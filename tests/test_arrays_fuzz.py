"""Adversarial fuzz parity for the *_arrays fast paths.

The corpus test (tests/test_extract.py) proves parity on GENERATOR
payloads; these hypothesis fuzzers prove it on hostile ones — unclosed
tags, stray ``<``/``>``, nested/unbalanced links and blacklist tags,
whitespace runs, malformed ``@x,y,w,h|`` tokens, markdown markers glued
mid-line, unicode whitespace, truncated/escaped/nested JSON — where a
fused rewrite would drift first.  Oracle = the Block-path composition
``extract_turn`` uses:
``assemble.assemble(assemble.prune_empty(extract_<cls>(raw)))``.
``two_pass_arrays`` is fuzzed directly against the reference merge
(``extract_two_pass`` + the F7 gate + the same composition), confidence
bit for bit, under a grid of ``(SecondPass, MinWordConfidence)`` values;
``two_pass`` is also fuzzed through ``extract_batch`` against
``extract_turn`` itself, with per-turn settings.
"""

import json
import struct

import pandas as pd
from hypothesis import given, settings, strategies as st

from frogocr_spark.core import (assemble, boilerplate, extract, markdown,
                                secondpass, segment, tooljson)
from frogocr_spark.core.assemble import Block

_HTML_ATOMS = st.sampled_from([
    "<p>", "</p>", "<div>", "</div>", "<nav>", "</nav>", "<a>", "</a>",
    "<a href='x'>", "<li>", "</li>", "<aside>", "</aside>", "<br/>",
    "<P >", "</DIV>", "<span>", "</span>", "<", ">", "</", "/>",
    "word", "two words here", "  ", "\n", "\t", "x", "link text",
    "a b c d e f", "<h1>", "</h1>", "<footer>", "</footer>",
])

_MD_ATOMS = st.sampled_from([
    "# ", "## ", "> ", "- ", "* ", "1. ", "```", "`code`", "**bold**",
    "*em*", "_u_", "__s__", "[t](u)", "[unclosed](", "](x)", "plain",
    "words go here", "  ", "\n", "*", "_", "`", "#", "[", "]", "(", ")",
])

_PDF_ATOMS = st.sampled_from([
    "@10,100,20,8|word", "@5,60,3,9|tiny", "@900,700,30,12|tail",
    "@1,2,3,4|x", "@40,40,10,10|header", "@12,760,9,9|footer",
    "@7,300,12,12|mid", "@x,y,w,h|bad", "@1,2|short", "plain",
    " ", "\n", "@99999,300,50,50|big", "@0,050,08,08|pad",
])

# str.isspace() characters beyond ASCII: strip() and trim_span must agree
_PLAIN_ATOMS = st.sampled_from([
    "word", "two words", "x", ".", " ", "  ", "\n", "\t", "\r", "\x0b",
    "\x0c", "\x1c", "\x1f", "\x85", "\xa0", "\u2003", "\u3000",
    "\u200b", "\ufeff", "é", "\U0001f600",
])

_JSON_ATOMS = st.sampled_from([
    "{", "}", "[", "]", ":", ",", " ", "\n", '"', '\\"', "\\u0041",
    "\\n", '"content"', '"text"', '"output"', '"stdout"', '"result"',
    '"data"', '"status"', '"ok"', '"  "', '""', '"x y"', "null", "1",
    "true", '"\\ud83d\\ude00"',
])

_JSON_VALUES = st.one_of(
    st.text(max_size=12), st.sampled_from(["", " ", "\n\t", "a\"b\\c"]),
    st.integers(), st.none(), st.lists(st.integers(), max_size=2))

_TOOL_JSON = st.one_of(
    st.lists(_JSON_ATOMS, max_size=30).map(lambda a: "{" + "".join(a)),
    st.dictionaries(
        st.sampled_from(tooljson.CONTENT_KEYS + ("status", "Content")),
        st.one_of(_JSON_VALUES, st.dictionaries(
            st.sampled_from(tooljson.CONTENT_KEYS), _JSON_VALUES,
            max_size=2)),
        max_size=4).flatmap(lambda d: st.builds(
            json.dumps, st.just(d), ensure_ascii=st.booleans())),
)

# words, ``?`` and unicode whitespace, inside and outside regions
_TP_WORDS = st.sampled_from([
    "?", "drah?", "?x", "a?b c", "sdrow desrever", "drow", "x", ".",
    "é", "\U0001f600", " ", "  ", "\n", "\t", "\xa0", "\u3000",
    "\x1c", "\x85",
])
# well-formed regions, easy or hard, empty or whitespace-only among them,
# plus stray, nested and unclosed markers
_TP_SOUP = st.one_of(
    _TP_WORDS,
    st.lists(_TP_WORDS, max_size=4).map(
        lambda a: "[[LOWCONF]]" + "".join(a) + "[[/LOWCONF]]"),
    st.sampled_from(["[[LOWCONF]]", "[[/LOWCONF]]", "[[LOWCONF",
                     "LOWCONF]]", "[[", "]]"]),
)

# (SecondPass, MinWordConfidence) as two_pass_arrays takes them: NaN and
# negative gates are off; 0.96 drops the easy second-pass words
# (float32 0.96 < 0.96), the exact float32 values keep them
_TP_GRID = st.sampled_from([
    (True, 0.0), (False, 0.0), (True, float("nan")), (True, -1.0),
    (True, 0.3), (True, 0.8), (True, 0.96), (True, 1.5),
    (False, 0.3), (False, 0.96),
    (True, float(secondpass.SECONDPASS_CONF)),
    (True, float(secondpass.SECONDPASS_HARD_CONF)),
])

# mirrors tests/test_extract.py SETTINGS_GRID
_SETTINGS = st.sampled_from([
    "", "Detector=x", "SecondPass=off", "MinWordConfidence=0.5",
    "MinWordConfidence=0.95", "MinWordConfidence=1.0",
    "MinWordConfidence=1.5", "MinWordConfidence=nan",
    "MinWordConfidence=inf", "MinWordConfidence=-1",
    "SecondPass=off,MinWordConfidence=0.25",
    "MinWordConfidence=abc,SecondPass=OFF",
])


def _compose(extract_fn, raw):
    blocks, _dropped = assemble.prune_empty(extract_fn(raw))
    text, spans = assemble.assemble(blocks)
    return text, spans, len(blocks), len(spans)


def _compose_tool_json(raw):
    blocks, failed = tooljson.extract_tool_json(raw)
    return _compose(lambda _raw: blocks, raw) + (failed,)


def _compose_two_pass(raw, run_second=True, min_conf=0.0):
    """Reference for ``two_pass_arrays``: the merge's Blocks, the F7 gate
    as ``extract_turn`` applies it, then the shared composition; the
    confidence as its float64 bytes, so equality is bit equality."""
    blocks, conf = secondpass.extract_two_pass(raw, run_second)
    if min_conf > 0:
        blocks = [Block(segments=[s for s in b.segments
                                  if s.confidence >= min_conf],
                        kind=b.kind, detector=b.detector,
                        recognizer=b.recognizer, confidence=b.confidence)
                  for b in blocks]
    blocks, _dropped = assemble.prune_empty(blocks)
    text, spans = assemble.assemble(blocks)
    n_var = sum(len(s.variants) for b in blocks for s in b.segments)
    return text, spans, len(spans), n_var, struct.pack("<d", conf)


def _two_pass(raw, run_second=True, min_conf=0.0):
    got = secondpass.two_pass_arrays(raw, run_second, min_conf)
    return got[:4] + (struct.pack("<d", got[4]),)


@settings(max_examples=300, deadline=None)
@given(st.lists(_PLAIN_ATOMS, min_size=0, max_size=30))
def test_plain_arrays_fuzz(atoms):
    raw = "".join(atoms)
    assert extract.plain_arrays(raw) == _compose(extract.extract_plain, raw)


@settings(max_examples=300, deadline=None)
@given(_TOOL_JSON)
def test_tool_json_arrays_fuzz(raw):
    assert tooljson.tool_json_arrays(raw) == _compose_tool_json(raw)


@settings(max_examples=300, deadline=None)
@given(st.lists(_HTML_ATOMS, min_size=0, max_size=40))
def test_html_arrays_fuzz(atoms):
    raw = "".join(atoms)
    assert boilerplate.html_arrays(raw) == \
        _compose(boilerplate.extract_html, raw)


@settings(max_examples=300, deadline=None)
@given(st.lists(_MD_ATOMS, min_size=0, max_size=40))
def test_markdown_arrays_fuzz(atoms):
    raw = "".join(atoms)
    assert markdown.markdown_arrays(raw) == \
        _compose(markdown.extract_markdown, raw)


@settings(max_examples=300, deadline=None)
@given(st.lists(_PDF_ATOMS, min_size=0, max_size=60))
def test_pdf_arrays_fuzz(atoms):
    raw = " ".join(atoms)
    assert segment.pdf_arrays(raw) == \
        _compose(segment.extract_pdf_layout, raw)


@settings(max_examples=300, deadline=None)
@given(st.lists(_TP_SOUP, max_size=40), _TP_GRID)
def test_two_pass_arrays_fuzz(atoms, grid):
    """The one-scan row scanner equals the reference merge on hostile
    ``[[LOWCONF]]`` soup under every gate, confidence bit for bit."""
    raw = "".join(atoms)
    run_second, min_conf = grid
    assert _two_pass(raw, run_second, min_conf) == \
        _compose_two_pass(raw, run_second, min_conf)


@settings(max_examples=300, deadline=None)
@given(st.lists(_TP_SOUP, max_size=40), st.integers(0, 40), _SETTINGS)
def test_two_pass_batch_fuzz_with_settings(atoms, at, csv):
    """Hostile ``[[LOWCONF]]`` payloads (unclosed/nested markers, ``?``
    hard regions, whitespace runs) with a random per-turn setting: the
    batch row equals the reference record on every column."""
    raw = "".join(atoms[:at] + ["[[LOWCONF]]"] + atoms[at:])
    row = extract.extract_batch(pd.Series([raw]),
                                pd.Series([csv])).iloc[0]
    rec = extract.extract_turn(raw, csv)
    assert rec["payload_class"] == "two_pass"
    for col in extract.OUTPUT_COLUMNS:
        assert row[col] == rec[col], col


@settings(max_examples=100, deadline=None)
@given(st.text(alphabet="<>/ab \n#*`[]()@,|0123456789", max_size=200))
def test_all_arrays_survive_arbitrary_text(raw):
    """No crash + parity on raw soup for every row scanner."""
    assert boilerplate.html_arrays(raw) == \
        _compose(boilerplate.extract_html, raw)
    assert markdown.markdown_arrays(raw) == \
        _compose(markdown.extract_markdown, raw)
    assert segment.pdf_arrays(raw) == \
        _compose(segment.extract_pdf_layout, raw)
    assert extract.plain_arrays(raw) == _compose(extract.extract_plain, raw)
    assert tooljson.tool_json_arrays(raw) == _compose_tool_json(raw)
    for tp in (raw, "[[LOWCONF]]" + raw + "[[/LOWCONF]]" + raw):
        assert _two_pass(tp) == _compose_two_pass(tp)


def test_large_payload_parity_and_sanity():
    """Megabyte-scale payloads through every structured twin: parity
    with the Block-path composition must hold and nothing may
    recurse/overflow.  Guards against accidental quadratic rewrites:
    these inputs are ~1000x the corpus mean, where an O(n^2) regression
    would hang the suite rather than shave a benchmark."""
    big_html = ("<div><p>" + "word " * 60 + "</p>"
                + "<nav>skip this</nav>"
                + "<p><a>l</a> tiny</p>") * 800          # ~0.9 MB
    big_md = ("# head\n" + "a line of **bold** text here\n" * 20
              + "```\nfence\n```\n") * 700               # ~0.9 MB
    big_pdf = " ".join(f"@{(i * 7) % 900},{100 + (i % 60) * 10},20,9|w{i}"
                       for i in range(30000))            # ~0.8 MB
    big_plain = "\n \xa0" + "a line of plain words\n" * 40000  # ~0.9 MB
    checks = [
        (boilerplate.html_arrays, boilerplate.extract_html, big_html),
        (markdown.markdown_arrays, markdown.extract_markdown, big_md),
        (segment.pdf_arrays, segment.extract_pdf_layout, big_pdf),
        (extract.plain_arrays, extract.extract_plain, big_plain),
    ]
    for arrays_fn, block_fn, raw in checks:
        got = arrays_fn(raw)
        assert got == _compose(block_fn, raw)
        text, spans, n_blocks, n_spans = got
        assert n_spans == len(spans) and n_blocks > 0
        for a, b in spans[:100]:
            assert raw[a:b].strip()
    big_json = json.dumps({"status": "ok", "stdout": "out \"q\" é\n" * 60000,
                           "content": ["nested"] * 1000})  # ~0.9 MB
    got = tooljson.tool_json_arrays(big_json)
    assert got == _compose_tool_json(big_json)
    assert got[0].startswith("out") and got[2:] == (1, 1, False)
    # 300 words x 20 regions (tests/test_twopass_paths.py's shape)
    big_regions = " ".join(
        " ".join(f"w{i}_{j}" for j in range(15))
        + " [[LOWCONF]]" + f"fix{i} ok{i}"[::-1] + "[[/LOWCONF]]"
        for i in range(20))
    got = secondpass.two_pass_arrays(big_regions)
    assert _two_pass(big_regions) == _compose_two_pass(big_regions)
    assert got[2] == 300 + 40 and got[3] == 40
    assert "fix19 ok19" in got[0] and "91xif" not in got[0]
    # two_pass at scale through the real batch entry
    big_tp = ("plain words here [[LOWCONF]]delbrag sdrow[[/LOWCONF]] "
              "more text. ") * 12000                     # ~0.8 MB
    row = extract.extract_batch(pd.Series([big_tp]),
                                spans_as="pairs").iloc[0]
    rec = extract.extract_turn(big_tp)
    assert row["payload_class"] == rec["payload_class"] == "two_pass"
    assert row["extracted_text"] == rec["extracted_text"]
    assert row["n_spans"] == rec["n_spans"]
    assert row["confidence"] == rec["confidence"]
