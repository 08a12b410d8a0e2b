"""Two-pass merge: exact reference thresholds.

Gates under test (citations into /root/reference/):
- coverage > 0.75 either direction (TaskProcessor.cpp:165,296)
- word erasure gate conf <= 0.5     (TaskProcessor.cpp:287-289)
- region gate mean conf < 0.7       (TaskProcessor.cpp:256-262)
- majority relaxation 0.95 → 0.7 when >half confident
                                    (TaskProcessor.cpp:386-401)
"""

import pytest

from frogocr_spark.core import secondpass as sp


def _text(blocks):
    return " ".join(s.text for b in blocks for s in b.segments)


# --- interval coverage (Quad::coverage analog, Quad.hpp:49-59) -----------

def test_interval_coverage():
    assert sp.interval_coverage((0, 10), (0, 10)) == 1.0
    assert sp.interval_coverage((0, 10), (5, 20)) == 0.5
    assert sp.interval_coverage((0, 10), (20, 30)) == 0.0
    assert sp.interval_coverage((0, 0), (0, 10)) == 0.0  # degenerate


def test_overlaps_either_direction():
    # small fully inside big: small's coverage = 1 > .75, big's = .2
    assert sp.overlaps_either((0, 2), (0, 10))
    assert sp.overlaps_either((0, 10), (0, 2))
    # 75% exactly is NOT enough (strict >)
    assert not sp.overlaps_either((0, 4), (1, 5))  # 3/4 = .75 both ways


# --- A4 majority vote ------------------------------------------------------

def test_majority_vote_thresholds():
    # >half strictly: 2 of 3 confident → relaxed
    assert sp.majority_vote_relaxation([0.96, 0.99, 0.2]) == sp.MAJORITY_RELAXED
    # exactly half (1 of 2) is NOT a majority → strict
    assert sp.majority_vote_relaxation([0.96, 0.2]) == sp.MAJORITY_STRICT
    # 0.95 itself is not "> 0.95"
    assert sp.majority_vote_relaxation([0.95]) == sp.MAJORITY_STRICT
    assert sp.majority_vote_relaxation([]) == sp.MAJORITY_STRICT


# --- end-to-end merge ------------------------------------------------------

def test_simple_region_replaced():
    raw = "head [[LOWCONF]]" + "fixed text"[::-1] + "[[/LOWCONF]] tail"
    blocks, conf = sp.extract_two_pass(raw)
    assert _text(blocks) == "head fixed text tail"


def test_hard_single_region_rejected_by_majority():
    # 0 of 1 region confident → strict 0.95 → 0.8 hard region rejected →
    # garbled first-pass words remain
    raw = "aa [[LOWCONF]]" + "wh?t is"[::-1] + "[[/LOWCONF]] bb"
    blocks, conf = sp.extract_two_pass(raw)
    assert _text(blocks) == "aa si t?hw bb"


def test_majority_relaxation_accepts_hard_region():
    good = "[[LOWCONF]]" + "good one"[::-1] + "[[/LOWCONF]]"
    good2 = "[[LOWCONF]]" + "also fine"[::-1] + "[[/LOWCONF]]"
    hard = "[[LOWCONF]]" + "wh?t is"[::-1] + "[[/LOWCONF]]"
    raw = f"aa {good} bb {good2} cc {hard} dd"
    blocks, conf = sp.extract_two_pass(raw)
    assert _text(blocks) == "aa good one bb also fine cc wh?t is dd"


def test_minority_easy_region_hand_computed():
    """A4 with easy regions a minority (1 of 3 kept): the strict
    threshold rejects both hard regions, so their garbled words stay at
    GARBLED_CONF, and only the easy region's words carry variants.  The
    document confidence is recomputed by hand in float32; with 7
    first-pass words (< 8) numpy's pairwise sum is a plain left-to-right
    loop."""
    import numpy as np

    from frogocr_spark.core import extract

    raw = ("aa [[LOWCONF]]" + "good one"[::-1] + "[[/LOWCONF]] "
           "[[LOWCONF]]" + "wh?t is"[::-1] + "[[/LOWCONF]] "
           "[[LOWCONF]]" + "so?"[::-1] + "[[/LOWCONF]] zz")
    want_text = "aa good one si t?hw ?os zz"
    f32 = np.float32
    fp_sum = f32(0.0)
    for c in (sp.FIRSTPASS_CONF, *[sp.GARBLED_CONF] * 5, sp.FIRSTPASS_CONF):
        fp_sum = f32(fp_sum + c)
    fp_mean = f32(fp_sum / f32(7))
    sp_mean = f32(f32(sp.SECONDPASS_CONF + sp.SECONDPASS_CONF) / f32(2))
    want_conf = float(f32(f32(fp_mean + sp_mean) / f32(2)))

    text, spans, n_spans, n_var, conf = sp.two_pass_arrays(raw)
    assert (text, n_spans, n_var) == (want_text, 7, 2)
    assert [raw[a:b] for a, b in spans] == [
        "aa", "doog", "eno", "si", "t?hw", "?os", "zz"]
    assert conf == want_conf
    rec = extract.extract_turn(raw)
    assert rec["extracted_text"] == want_text
    assert rec["n_variants"] == 2 and rec["confidence"] == want_conf
    # the hard regions' words kept their first-pass confidence
    blocks, _ = sp.extract_two_pass(raw)
    confs = {s.text: s.confidence for s in blocks[0].segments}
    for w in ("si", "t?hw", "?os"):
        assert confs[w] == float(sp.GARBLED_CONF)
    # so a 0.5 word gate drops exactly them, on both paths
    gated = sp.two_pass_arrays(raw, True, 0.5)
    assert gated[0] == "aa good one zz" and gated[3] == 2
    assert gated[4] == want_conf
    assert extract.extract_turn(
        raw, "MinWordConfidence=0.5")["extracted_text"] == "aa good one zz"


def test_second_pass_mean_takes_region_order():
    """Regions easy (1 word), hard (1), easy (2): easy is a majority, so
    all are accepted, and the second-pass mean is taken over [0.96, 0.80,
    0.96, 0.96] in region order — the reference's element order, which
    here decides the last bit (the sorted order gives another value)."""
    import numpy as np

    from frogocr_spark.core import extract

    raw = ("aa [[LOWCONF]]eno[[/LOWCONF]] [[LOWCONF]]?owt[[/LOWCONF]] "
           "[[LOWCONF]]ruof eerht[[/LOWCONF]]")
    f32 = np.float32

    def mean(confs):
        acc = f32(0.0)
        for c in confs:
            acc = f32(acc + c)
        return f32(acc / f32(len(confs)))

    E, H = sp.SECONDPASS_CONF, sp.SECONDPASS_HARD_CONF
    fp_mean = mean([sp.FIRSTPASS_CONF] + [sp.GARBLED_CONF] * 4)
    want, other = (float(f32(f32(fp_mean + mean(order)) / f32(2)))
                   for order in ([E, H, E, E], [E, E, E, H]))
    assert want != other
    text, _spans, n_spans, n_var, conf = sp.two_pass_arrays(raw)
    assert (text, n_spans, n_var) == ("aa one two? three four", 5, 4)
    assert conf == want
    assert extract.extract_turn(raw)["confidence"] == want


def test_erased_words_survive_as_variants():
    """The J2 replacement keeps the losing first-pass reading as a
    Variant on its second-pass replacement (the reference's per-symbol
    Variant depth, Document.hpp:22-30) — extracted text unchanged."""
    raw = "head [[LOWCONF]]" + "fixed text"[::-1] + "[[/LOWCONF]] tail"
    blocks, _conf = sp.extract_two_pass(raw)
    segs = [s for b in blocks for s in b.segments]
    by_text = {s.text: s for s in segs}
    all_vars = [v for s in segs for v in s.variants]
    garbled = set("fixed text"[::-1].split())       # the erased readings
    assert {t for t, _ in all_vars} == garbled
    for _t, c in all_vars:
        assert c == pytest.approx(float(sp.GARBLED_CONF), abs=1e-6)
    # untouched first-pass words carry no variants
    assert by_text["head"].variants == []
    assert by_text["tail"].variants == []
    # and the variants ride on SECOND-pass words only
    for s in segs:
        if s.variants:
            assert s.confidence == pytest.approx(float(sp.SECONDPASS_CONF),
                                                 abs=1e-6)


def test_high_conf_words_never_erased():
    # first-pass words outside regions (conf .92 > .5 gate) are kept even
    # though second-pass words exist
    raw = "keepme [[LOWCONF]]" + "xy"[::-1] + "[[/LOWCONF]] alsokeep"
    blocks, _ = sp.extract_two_pass(raw)
    t = _text(blocks)
    assert "keepme" in t and "alsokeep" in t


def test_no_region_passthrough():
    # sniffed as two_pass only when marker present; direct call: no regions
    blocks, conf = sp.extract_two_pass("just plain words")
    assert _text(blocks) == "just plain words"
    assert conf == pytest.approx(0.92, abs=1e-6)


def test_spans_mirror_through_reversal():
    region = "fixed text"
    raw = "[[LOWCONF]]" + region[::-1] + "[[/LOWCONF]]"
    blocks, _ = sp.extract_two_pass(raw)
    segs = blocks[0].segments
    assert [s.text for s in segs] == ["fixed", "text"]
    for s in segs:
        assert raw[s.start:s.end] == s.text[::-1]


def test_doc_confidence_is_float32_average():
    import numpy as np
    raw = "aa bb [[LOWCONF]]" + "cc dd"[::-1] + "[[/LOWCONF]]"
    _, conf = sp.extract_two_pass(raw)
    fp = np.mean(np.array([0.92, 0.92, 0.3, 0.3], dtype=np.float32), dtype=np.float32)
    expect = float((np.float32(fp) + np.float32(0.96)) / np.float32(2.0))
    assert conf == pytest.approx(expect, abs=1e-7)


def test_window_pruning_matches_exhaustive_scan():
    """The bisect-window J1/J2 candidate pruning must be invisible: results
    equal a full O(W*R) overlap scan on every generated two_pass payload."""
    import numpy as np
    import pandas as pd

    from frogocr_spark.core import secondpass as sp
    from frogocr_spark.core import sniff
    from frogocr_spark.sources import payloadgen

    rows = []
    for c in range(300):
        rows.extend(payloadgen.gen_conv(c))
    s = pd.Series([r["text"] for r in rows]).fillna("").astype(str)
    payloads = [v for v, c in zip(s, sniff.sniff_series(s))
                if c == "two_pass"]
    assert payloads, "corpus must contain two_pass rows"

    checked = 0
    for raw in payloads:
        fp_words, regions = sp.first_pass(raw)
        fp_conf = np.array([w.conf for w in fp_words], dtype=np.float32)
        kept_exhaustive = []
        for r in regions:
            idx = [i for i, w in enumerate(fp_words)
                   if sp.overlaps_either((w.start, w.end), r)]
            mean = (np.float32(fp_conf[idx].mean(dtype=np.float32))
                    if idx else np.float32(1.0))
            if mean < sp.QUAD_GATE:
                kept_exhaustive.append(r)
        blocks, _ = sp.extract_two_pass(raw)
        got_sp_words = {(seg.start, seg.end) for b in blocks
                        for seg in b.segments
                        if seg.confidence in (float(sp.SECONDPASS_CONF),
                                              float(sp.SECONDPASS_HARD_CONF))}
        # every accepted region's recognized words must appear verbatim
        for r in kept_exhaustive:
            for w in sp.second_pass_recognize(raw, r):
                cands = [ws[0].conf
                         for ws in [sp.second_pass_recognize(raw, k)
                                    for k in kept_exhaustive] if ws]
                if w.conf > sp.majority_vote_relaxation(cands):
                    assert (w.start, w.end) in got_sp_words
                    checked += 1
    assert checked > 50  # the assertion actually exercised real regions


def test_sumdiv_mean_bit_identity():
    """The confidence means must be bit-identical to np.mean(dtype=float32)
    over the actual confidence alphabet at every array size the pairwise
    summation regime distinguishes (incl. >8 and >2*8192-block
    boundaries are unreachable per-row, 4097 covers the pairwise split).
    Two forms: the reference merge's sum/div (secondpass._merge_two_pass)
    and the batch row scanner's ``np.add.reduce`` over packed float32
    bytes (secondpass._f32_mean, used by two_pass_arrays)."""
    import random

    import numpy as np

    rng = random.Random(7)
    alphabet = [float(sp.FIRSTPASS_CONF), float(sp.GARBLED_CONF),
                float(sp.SECONDPASS_CONF), float(sp.SECONDPASS_HARD_CONF)]
    for n in list(range(1, 33)) + [100, 1000, 4097]:
        a = np.array([rng.choice(alphabet) for _ in range(n)],
                     dtype=np.float32)
        lhs = a.sum(dtype=np.float32) / np.float32(n)
        rhs = np.float32(a.mean(dtype=np.float32))
        assert np.float32(lhs).tobytes() == rhs.tobytes(), n
        assert np.float32(sp._f32_mean(a.tobytes())).tobytes() == \
            rhs.tobytes(), n
        idx = sorted(rng.sample(range(n), max(1, n // 3)))
        lhs = a[idx].sum(dtype=np.float32) / np.float32(len(idx))
        rhs = np.float32(a[idx].mean(dtype=np.float32))
        assert np.float32(lhs).tobytes() == rhs.tobytes(), n
