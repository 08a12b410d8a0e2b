"""CTC-style collapse (A7): per-step argmax, drop blanks and repeats,
mean of kept scores — reference ``Source/Paddle/Recognition.cpp:102-128``
re-expressed over a step-major score matrix.

Pure numpy (Arrow-batch friendly); the Spark surface is a pandas UDF over
an ``array<array<float>>`` column when decoding model outputs at scale.
"""

from __future__ import annotations

import numpy as np

BLANK = 0


def ctc_collapse(scores: np.ndarray,
                 vocab: list[str] | None = None) -> tuple[list[int], float]:
    """``scores``: (timesteps, n_classes) float matrix.

    Returns (kept class ids, mean kept score).  Reference semantics for
    the collapse itself: argmax per step; a step is kept iff its class
    is not blank (index 0) AND differs from the previous step's class
    (shift-compare); confidence is the mean of the kept steps' max
    scores.  Empty decodes return conf 1.0 — a DELIBERATE deviation:
    the reference (Recognition.cpp:120-124) produces NaN from
    score/count and then drops the result row entirely; this operator
    keeps 1-in-1-out row semantics with a well-defined empty record.
    """
    if scores.size == 0:
        return [], 1.0
    ids = scores.argmax(axis=1)
    vals = scores.max(axis=1)
    prev = np.concatenate(([-1], ids[:-1]))
    keep = (ids != BLANK) & (ids != prev)
    kept = ids[keep]
    if kept.size == 0:
        return [], 1.0
    return kept.tolist(), float(vals[keep].mean())


def ctc_decode(scores: np.ndarray, vocab: list[str]) -> tuple[str, float]:
    ids, conf = ctc_collapse(scores)
    return "".join(vocab[i] for i in ids), conf
