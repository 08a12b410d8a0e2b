"""Per-turn extraction: the Arrow-batch production path + the reference.

:func:`extract_batch`, called by the Spark ``mapInArrow`` operator,
extracts every row, with or without settings: vectorized sniff, then one
loop that hands each row to its payload class's row scanner
(``*_arrays(raw)``: ``plain_arrays``, ``tooljson.tool_json_arrays``,
``boilerplate.html_arrays``, ``segment.pdf_arrays``,
``markdown.markdown_arrays``, ``secondpass.two_pass_arrays``).  A row
scanner goes straight from scan state to the output values — no
Segment/Block objects; ``two_pass_arrays`` also builds no Word objects
and never runs the reference merge (``secondpass._merge_two_pass``).
:func:`extract_turn` is the reference — Block scanners (for
``two_pass``, that merge), F7 gate, ``assemble.prune_empty``,
``assemble.assemble`` — that tests and the benchmark's output check
compare the batch path against.

Per-turn settings (``core.settings.Settings``) change only two things:
``two_pass`` rows pass ``SecondPass`` and ``MinWordConfidence`` to
``two_pass_arrays``, which keeps merged words with ``conf >=
MinWordConfidence`` when the gate is ``> 0``; every other class emits
words at confidence 1.0, so its row is emptied only when
``MinWordConfidence > 1.0``.

Pipeline stages fused here (reference ``Source/TaskProcessor.cpp:178-373``
``doTask`` chain): sniff (S6 codec choice) → class extractor (X1 detect +
X2 recognize) → empty-cascade prune (F8) → span assembly (C5/W1/W3).
"""

from __future__ import annotations

from typing import Any

import numpy as np
import pandas as pd

from . import assemble, boilerplate, markdown, segment, sniff, tooljson
from .assemble import Block, Segment
from .secondpass import extract_two_pass, two_pass_arrays
from .settings import Settings

OUTPUT_COLUMNS = [
    "payload_class", "extracted_text", "spans", "n_blocks", "n_spans",
    "n_variants", "confidence", "parse_failed", "empty_after_strip",
]


def extract_plain(raw: str) -> list[Block]:
    """Identity extraction: the trimmed payload as one full-range span."""
    s, e = assemble.trim_span(raw, 0, len(raw))
    if s >= e:
        return []
    return [Block(segments=[Segment(text=raw[s:e], start=s, end=e, glue="")],
                  kind="text", detector="integrated", recognizer="identity")]


def plain_arrays(raw: str) -> tuple[str, list[tuple[int, int]], int, int]:
    """Row scanner twin of :func:`extract_plain` + ``assemble.prune_empty``
    + ``assemble.assemble`` (``str.strip`` strips exactly the
    ``str.isspace`` set ``trim_span`` skips).  Returns
    ``(extracted_text, span_pairs, n_blocks, n_spans)``."""
    text = raw.strip()
    if not text:
        return "", [], 0, 0
    s = len(raw) - len(raw.lstrip())
    return text, [(s, s + len(text))], 1, 1


# one row scanner per payload class: ``scan(raw)`` returns
# ``(text, spans, n_blocks, n_spans)``, plus ``parse_failed`` for
# tool_json; two_pass takes the row's settings and returns ``(text,
# spans, n_spans, n_variants, confidence)``
_ARRAY_SCANNERS = {
    "two_pass": two_pass_arrays,
    "tool_json": tooljson.tool_json_arrays,
    "pdf_layout": segment.pdf_arrays,
    "html": boilerplate.html_arrays,
    "markdown": markdown.markdown_arrays,
    "plain": plain_arrays,
}


def extract_turn(text: str | None,
                 settings_csv: str | None = None) -> dict[str, Any]:
    """Reference extraction of one turn payload (see module docstring).

    ``settings_csv`` = per-turn typed settings (F9/F7 —
    core.settings.Settings): MinWordConfidence gates words
    post-extraction, SecondPass=off disables the two-pass merge."""
    raw = text if isinstance(text, str) else ""
    settings = Settings.parse_csv(settings_csv)
    cls = sniff.sniff(raw)
    parse_failed = False
    confidence = 1.0
    if cls == "plain":
        blocks = extract_plain(raw)
    elif cls == "html":
        blocks = boilerplate.extract_html(raw)
    elif cls == "pdf_layout":
        blocks = segment.extract_pdf_layout(raw)
    elif cls == "markdown":
        blocks = markdown.extract_markdown(raw)
    elif cls == "tool_json":
        blocks, parse_failed = tooljson.extract_tool_json(raw)
    else:  # two_pass
        blocks, confidence = extract_two_pass(raw, settings.second_pass)

    if settings.min_word_confidence > 0:  # F7 word-confidence gate
        blocks = [
            Block(segments=[s for s in b.segments
                            if s.confidence >= settings.min_word_confidence],
                  kind=b.kind, detector=b.detector,
                  recognizer=b.recognizer, confidence=b.confidence)
            for b in blocks
        ]
    blocks, _dropped = assemble.prune_empty(blocks)
    extracted, spans = assemble.assemble(blocks)
    if cls != "two_pass":
        confidence = assemble.mean_confidence(blocks)
    return {
        "payload_class": cls,
        "extracted_text": extracted,
        "spans": [{"start": a, "end": b} for a, b in spans],
        "n_blocks": len(blocks),
        "n_spans": len(spans),
        # per-word alternative readings (Variant depth,
        # Document.hpp:22-30); only the two-pass merge produces them
        "n_variants": sum(len(s.variants) for b in blocks
                          for s in b.segments),
        "confidence": confidence,
        "parse_failed": parse_failed,
        "empty_after_strip": (not extracted) and bool(raw.strip()),
    }


def extract_batch(texts: pd.Series,
                  settings: pd.Series | None = None,
                  spans_as: str = "dicts") -> pd.DataFrame:
    """Production extraction of a batch (same index as ``texts``).

    ``settings`` = optional per-row settings CSVs, applied as the module
    docstring describes.  Agreement with :func:`extract_turn` is tested
    row by row in tests/test_extract.py, with and without settings.

    ``spans_as="pairs"`` returns the spans column as ``[(start, end)]``
    tuples instead of ``[{"start": ..., "end": ...}]`` dicts — the Arrow
    operator's format (pyarrow converts the pairs to the span struct
    directly); values are identical (tests/test_extract.py asserts both
    modes agree)."""
    s = texts.fillna("").astype(str)
    n = len(s)
    raws = s.tolist()
    cls_np = sniff.sniff_series(s).to_numpy()
    # only SecondPass and MinWordConfidence change a row's output
    second_pass = [True] * n
    min_conf = [0.0] * n
    if settings is not None:
        for i, csv in enumerate(settings.fillna("").astype(str).tolist()):
            if csv:
                cfg = Settings.parse_csv(csv)
                second_pass[i] = cfg.second_pass
                min_conf[i] = cfg.min_word_confidence

    # one flat list per output column: a tuple per row gives the cyclic
    # GC more objects to walk (measured 6-11% slower)
    text_c, spans_c = [""] * n, [None] * n
    nbl, nsp, nvar, conf_c = [0] * n, [0] * n, [0] * n, [1.0] * n
    pf, eas = [False] * n, [False] * n
    # class by class, not in row order: one scanner's code and regexes
    # stay hot (row order measured 2-24% slower on a mixed batch)
    for cls in sniff.CLASSES:
        scan = _ARRAY_SCANNERS[cls]
        for i in np.flatnonzero(cls_np == cls).tolist():
            raw = raws[i]
            if cls == "two_pass":
                text, spans, n_spans, nvar[i], conf_c[i] = scan(
                    raw, second_pass[i], min_conf[i])
                n_blocks = 1 if n_spans else 0
            else:
                if cls == "tool_json":
                    text, spans, n_blocks, n_spans, pf[i] = scan(raw)
                else:
                    text, spans, n_blocks, n_spans = scan(raw)
                # F7 gate: every word here has confidence 1.0, so all or
                # none survive (NaN compares False, like the reference)
                if min_conf[i] > 1.0:
                    text, spans, n_blocks, n_spans = "", [], 0, 0
            text_c[i] = text
            spans_c[i] = spans
            nbl[i], nsp[i] = n_blocks, n_spans
            eas[i] = not text and bool(raw.strip())

    if spans_as != "pairs":
        spans_c = [[{"start": a, "end": b} for a, b in sp] for sp in spans_c]
    return pd.DataFrame(
        {"payload_class": cls_np,
         "extracted_text": pd.Series(text_c, index=s.index, dtype=object),
         "spans": pd.Series(spans_c, index=s.index, dtype=object),
         "n_blocks": np.array(nbl, dtype=np.int32),
         "n_spans": np.array(nsp, dtype=np.int32),
         "n_variants": np.array(nvar, dtype=np.int32),
         "confidence": np.array(conf_c, dtype=np.float64),
         "parse_failed": np.array(pf, dtype=bool),
         "empty_after_strip": np.array(eas, dtype=bool)},
        index=s.index, columns=OUTPUT_COLUMNS)
