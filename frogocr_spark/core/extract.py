"""Per-turn extraction: the Arrow-batch production path + the reference.

:func:`extract_batch`, called by the Spark ``mapInArrow`` operator,
extracts every row, with or without settings: vectorized sniff, then one
array scanner per payload class (no Segment/Block objects).
:func:`extract_turn` is the reference — Block scanners, F7 gate,
``assemble.prune_empty``, ``assemble.assemble`` — that tests and the
benchmark's output check compare the batch path against.

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

_ARRAY_SCANNERS = {
    "html": boilerplate.html_arrays,
    "pdf_layout": segment.pdf_arrays,
    "markdown": markdown.markdown_arrays,
}


def extract_plain(raw: str) -> list[Block]:
    """Identity extraction: the trimmed payload as one full-range span."""
    s, e = assemble.trim_span(raw, 0, len(raw))
    if s >= e:
        return []
    return [Block(segments=[Segment(text=raw[s:e], start=s, end=e, glue="")],
                  kind="text", detector="integrated", recognizer="identity")]


def extract_turn(text: str | None,
                 settings_csv: str | None = None) -> dict[str, Any]:
    """Reference extraction of one turn payload (see module docstring).

    ``settings_csv`` = per-turn typed settings (F9/F7/X1 —
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
    # per-word alternative readings (Variant depth, Document.hpp:22-30):
    # aligned 1:1 with spans; only the two-pass merge produces them
    word_variants = [list(s.variants) for b in blocks for s in b.segments]
    return {
        "payload_class": cls,
        "extracted_text": extracted,
        "spans": [{"start": a, "end": b} for a, b in spans],
        "n_blocks": len(blocks),
        "n_spans": len(spans),
        "n_variants": sum(len(v) for v in word_variants),
        "confidence": confidence,
        "parse_failed": parse_failed,
        "empty_after_strip": (not extracted) and bool(raw.strip()),
        "word_variants": word_variants,   # sink-level detail, not a DF column
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
    operator's format (it flattens spans into offset/child arrays, so
    per-span dicts are pure allocation overhead on the hot path); values
    are identical (tests/test_extract.py asserts both modes agree)."""
    s = texts.fillna("").astype(str)
    n = len(s)
    cls_np = sniff.sniff_series(s).to_numpy()
    # only SecondPass and MinWordConfidence change a row's output
    second_pass = [True] * n
    min_conf = np.zeros(n, dtype=np.float64)
    if settings is not None:
        for i, csv in enumerate(settings.fillna("").astype(str).tolist()):
            if csv:
                cfg = Settings.parse_csv(csv)
                second_pass[i] = cfg.second_pass
                min_conf[i] = cfg.min_word_confidence

    # every column is a flat numpy array (or a python list for the ragged
    # spans) filled by integer positions per class; the DataFrame is
    # built once at the end
    a_text = np.empty(n, dtype=object)
    spans_col: list = [None] * n
    a_nbl = np.zeros(n, dtype=np.int32)
    a_nsp = np.zeros(n, dtype=np.int32)
    a_nvar = np.zeros(n, dtype=np.int32)
    a_conf = np.ones(n, dtype=np.float64)
    a_pf = np.zeros(n, dtype=bool)
    a_eas = np.zeros(n, dtype=bool)

    plain_pos = np.flatnonzero(cls_np == "plain")
    if len(plain_pos):
        p = s.iloc[plain_pos]
        stripped = p.str.strip()
        lead = (p.str.len() - p.str.lstrip().str.len()).to_numpy()
        ln = stripped.str.len().to_numpy()
        nonempty = ln > 0
        a_text[plain_pos] = stripped.to_numpy(dtype=object)
        for pos_i, a, b, ne in zip(plain_pos.tolist(), lead.tolist(),
                                   (lead + ln).tolist(), nonempty.tolist()):
            spans_col[pos_i] = [(a, b)] if ne else []
        a_nbl[plain_pos] = nonempty
        a_nsp[plain_pos] = nonempty

    tj_pos = np.flatnonzero(cls_np == "tool_json")
    if len(tj_pos):
        # one json.loads + regex search per row, columns built in bulk
        t, st, en, kp, fl = tooljson.extract_tool_json_batch(
            s.iloc[tj_pos].tolist())
        a_text[tj_pos] = np.array(t, dtype=object)
        for pos_i, a, b, k in zip(tj_pos.tolist(), st, en, kp):
            spans_col[pos_i] = [(a, b)] if k else []
        kept = np.array(kp, dtype=bool)
        a_nbl[tj_pos] = kept
        a_nsp[tj_pos] = kept
        a_pf[tj_pos] = np.array(fl, dtype=bool)
        # sniff guarantees tool_json raw is non-whitespace (stripped
        # starts with "{"), so empty_after_strip reduces to "not kept"
        a_eas[tj_pos] = ~kept

    # structured classes: per-row scanners (regex state machines — not
    # cross-row vectorizable) straight from scan state to output arrays
    for cls in ("html", "pdf_layout", "markdown", "two_pass"):
        pos = np.flatnonzero(cls_np == cls)
        if not len(pos):
            continue
        scan = _ARRAY_SCANNERS.get(cls)
        texts_l: list[str] = []
        nsp: list[int] = []
        nbl: list[int] = []
        nvar: list[int] = []
        confs: list[float] = []
        eas: list[bool] = []
        for pos_i, raw in zip(pos.tolist(), s.iloc[pos].tolist()):
            if scan is None:
                extracted, spans, n_segs, n_var, conf = two_pass_arrays(
                    raw, second_pass[pos_i], float(min_conf[pos_i]))
                n_blocks = 1 if n_segs else 0
            else:
                extracted, spans, n_blocks, n_segs = scan(raw)
                n_var, conf = 0, 1.0
            texts_l.append(extracted)
            spans_col[pos_i] = spans
            nbl.append(n_blocks)
            nsp.append(n_segs)
            nvar.append(n_var)
            confs.append(conf)
            eas.append((not extracted) and bool(raw.strip()))
        a_text[pos] = np.array(texts_l, dtype=object)
        a_nbl[pos] = np.array(nbl, dtype=np.int32)
        a_nsp[pos] = np.array(nsp, dtype=np.int32)
        a_nvar[pos] = np.array(nvar, dtype=np.int32)
        a_conf[pos] = np.array(confs, dtype=np.float64)
        a_eas[pos] = np.array(eas, dtype=bool)

    # F7 gate on the confidence-1.0 classes: all words or none survive
    # (NaN compares False, like the reference's ``> 0`` test)
    for i in np.flatnonzero(min_conf > 1.0).tolist():
        if cls_np[i] == "two_pass":
            continue
        a_text[i] = ""
        spans_col[i] = []
        a_nbl[i] = a_nsp[i] = 0
        a_eas[i] = bool(s.iat[i].strip())

    if spans_as != "pairs":
        spans_col = [[{"start": a, "end": b} for a, b in sp]
                     for sp in spans_col]
    return pd.DataFrame(
        {"payload_class": cls_np, "extracted_text": a_text,
         "spans": pd.Series(spans_col, index=s.index, dtype=object),
         "n_blocks": a_nbl, "n_spans": a_nsp, "n_variants": a_nvar,
         "confidence": a_conf, "parse_failed": a_pf,
         "empty_after_strip": a_eas},
        index=s.index, columns=OUTPUT_COLUMNS)
