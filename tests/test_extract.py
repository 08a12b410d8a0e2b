"""Dispatch + batch/scalar parity over the full generated corpus."""

import pandas as pd
import pytest

from frogocr_spark.core import extract
from frogocr_spark.sources import payloadgen as pg


@pytest.fixture(scope="module")
def corpus():
    return pg.gen_transcripts(n_convs=150)


def _assert_batch_matches_reference(texts, settings=None):
    """extract_batch equals extract_turn on all 9 columns, row by row."""
    texts = pd.Series(texts, dtype=object)
    batch = extract.extract_batch(texts, settings)
    assert len(batch) == len(texts)
    stngs = [None] * len(texts) if settings is None else list(settings)
    for i, (raw, csv) in enumerate(zip(texts, stngs)):
        rec = extract.extract_turn(raw, csv)
        row = batch.iloc[i]
        for col in extract.OUTPUT_COLUMNS:
            assert rec[col] == row[col], (col, raw, csv)


def test_batch_matches_scalar_oracle(corpus):
    _assert_batch_matches_reference([r["text"] for r in corpus])


def test_span_raw_slice_invariant(corpus):
    """For html/pdf/markdown/plain every span slices the raw payload to the
    exact segment text (assemble.py contract)."""
    checked = 0
    for r in corpus:
        rec = extract.extract_turn(r["text"])
        if rec["payload_class"] in ("two_pass", "tool_json"):
            continue
        raw = r["text"]
        for spn in rec["spans"]:
            piece = raw[spn["start"]:spn["end"]]
            assert piece.strip(), (rec["payload_class"], spn)
            assert piece in rec["extracted_text"]
            checked += 1
    assert checked > 500


def test_empty_and_whitespace_inputs():
    for raw in ("", "   ", None, "\n\t"):
        rec = extract.extract_turn(raw)
        assert rec["extracted_text"] == ""
        assert rec["spans"] == []
        assert not rec["empty_after_strip"]  # nothing was there to strip


def test_empty_after_strip_counter():
    rec = extract.extract_turn('{"status": "ok", "exit_code": 0}')
    assert rec["extracted_text"] == "" and rec["empty_after_strip"]


def test_plain_identity_with_padding():
    rec = extract.extract_turn("  some words  ")
    assert rec["extracted_text"] == "some words"
    assert rec["spans"] == [{"start": 2, "end": 12}]


def test_deterministic_generator():
    a = pg.gen_transcripts(20)
    b = pg.gen_transcripts(20)
    assert a == b
    assert pg.gen_turn(3, 1) == pg.gen_turn(3, 1)


def test_generator_skew_knob():
    rows = pg.gen_transcripts(5, skew_conv_turns=100)
    counts = {}
    for r in rows:
        counts[r["conv_id"]] = counts.get(r["conv_id"], 0) + 1
    assert counts["conv_00000000"] == 100
    assert all(v <= 16 for k, v in counts.items() if k != "conv_00000000")


TOOL_JSON_EDGE_CASES = [
    '{"content": "plain value"}',
    '{"content": "esc \\"quoted\\" and \\\\back"}',   # JSON escapes in value
    '{"content": "tab\\tnl\\nuni\\u00e5"}',           # escapes: span != len
    '{"text": "second priority"}',
    '{"output": "third"}', '{"stdout": "fourth"}',
    '{"result": "fifth"}', '{"data": "sixth"}',
    '{"data": "low", "content": "wins"}',             # priority order
    '{"content": "   "}',                             # prunes to empty
    '{"content": ""}',                                # empty string value
    '{"content": "  x", "text": "never reached"}',    # first key wins
    '{"content": 42, "text": "fallback hit"}',        # non-string skipped
    '{"content": null, "output": "nn"}',
    '{"status": "ok"}',                               # no content field
    '{"nested": {"content": "inner"}, "text": "outer"}',
    '{"text": "dup", "extra": {"text": "first in raw?"}}',
    '{broken json',                                   # parse failure
    '{"content": "trunc',                             # truncated string
    '{"a": [1, 2, {"content": "deep"}]}',
    '[1, 2, 3]',                                      # non-dict (array)... sniffed tool_json? no — starts with [
    '{"content": "with } brace in value"}',
    '{ "content" :  "spaced colon" }',
    '{"CONTENT": "case sensitive miss"}',
    '{"content": "a", "content2": "b"}',
    '{"content": "\\u0041\\u00e6\\ud83d\\ude00"}',    # unicode escapes incl. surrogate pair
]


def test_tool_json_batch_scalar_parity_edges():
    """The fused batch tool_json path must byte-match the scalar oracle
    on adversarial payloads (escapes, priority, prune, parse failure)."""
    _assert_batch_matches_reference(TOOL_JSON_EDGE_CASES)


def test_tool_json_unescape_span_invariant():
    """tooljson contract: json-unescape(raw[start:end]) == extracted."""
    import json as _json
    raw = '{"content": "esc \\"q\\" \\u00e5\\n"}'
    rec = extract.extract_turn(raw)
    (spn,) = rec["spans"]
    token = raw[spn["start"]:spn["end"]]
    assert _json.loads('"' + token + '"') == rec["extracted_text"]


def test_all_payload_classes_represented(corpus):
    seen = {extract.extract_turn(r["text"])["payload_class"] for r in corpus}
    assert seen == {"plain", "markdown", "html", "pdf_layout",
                    "tool_json", "two_pass"}


def test_spans_pairs_mode_matches_dicts_mode(corpus):
    """spans_as="pairs" (the Arrow operator's allocation-light format)
    must carry exactly the same values as the default dict format, on
    every row of the full generated corpus, with and without per-row
    settings."""
    texts = pd.Series([r["text"] for r in corpus])
    stngs = pd.Series(["MinWordConfidence=0.9"] + [""] * (len(texts) - 1))
    for settings in (None, stngs):
        dicts = extract.extract_batch(texts, settings)
        prs = extract.extract_batch(texts, settings, spans_as="pairs")
        for col in dicts.columns:
            if col == "spans":
                continue
            assert dicts[col].tolist() == prs[col].tolist(), col
        for d_row, p_row in zip(dicts["spans"], prs["spans"]):
            assert [(d["start"], d["end"]) for d in d_row] \
                == [tuple(p) for p in p_row]


# per-turn settings: the gate's boundaries (0, 1.0, the second-pass
# confidences), values that parse to NaN/inf/negative or fail to parse,
# SecondPass=off alone and combined, and a key that changes nothing
SETTINGS_GRID = [
    "", "Detector=x", "SecondPass=off", "MinWordConfidence=0.5",
    "MinWordConfidence=0.95", "MinWordConfidence=1.0",
    "MinWordConfidence=1.5", "MinWordConfidence=nan",
    "MinWordConfidence=inf", "MinWordConfidence=-1",
    "SecondPass=off,MinWordConfidence=0.25",
    "MinWordConfidence=abc,SecondPass=OFF",
]

EDGE_PAYLOADS = TOOL_JSON_EDGE_CASES + [
    "", "   ", None, "\n\t", "  some words  ",
    "good words [[LOWCONF]]txet dexif[[/LOWCONF]] tail",
    "[[LOWCONF]]unclosed region drow", "[[LOWCONF]][[/LOWCONF]]",
    "[[LOWCONF]]a [[LOWCONF]]b[[/LOWCONF]] c[[/LOWCONF]]",
    "x [[LOWCONF]]?drah[[/LOWCONF]] y [[LOWCONF]]ysae[[/LOWCONF]]",
    "[[LOWCONF]]   \n\t  [[/LOWCONF]]",
    "<div><p>unclosed paragraph with enough words here", "<nav>only nav",
    "# heading\n[unclosed](link **bold", "```\nfence never closed",
    "@10,100,20,8|word @1,2|short @x,y,w,h|bad", "@12,760,9,9|footer",
]


def test_batch_matches_reference_under_settings_grid(corpus):
    """Every (row, settings) pair over the corpus plus edge payloads:
    rows with settings go through the array scanners and must equal the
    reference on all 9 columns.  Round j gives row i the setting
    ``SETTINGS_GRID[(i + j) % 12]``, so each batch mixes all of them."""
    texts = [r["text"] for r in corpus] + EDGE_PAYLOADS
    k = len(SETTINGS_GRID)
    for j in range(k):
        _assert_batch_matches_reference(
            texts, pd.Series([SETTINGS_GRID[(i + j) % k]
                              for i in range(len(texts))], dtype=object))
