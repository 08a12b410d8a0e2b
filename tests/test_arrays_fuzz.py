"""Adversarial fuzz parity for the *_arrays fast paths.

The corpus test (tests/test_extract.py) proves parity on GENERATOR
payloads; these hypothesis fuzzers prove it on hostile ones — unclosed
tags, stray ``<``/``>``, nested/unbalanced links and blacklist tags,
whitespace runs, malformed ``@x,y,w,h|`` tokens, markdown markers glued
mid-line — where a fused rewrite would drift first.  Oracle = the
Block-path composition ``extract_turn`` uses:
``assemble.assemble(assemble.prune_empty(extract_<cls>(raw)))``.
``two_pass`` is fuzzed through ``extract_batch`` against ``extract_turn``
itself, with per-turn settings.
"""

import pandas as pd
from hypothesis import given, settings, strategies as st

from frogocr_spark.core import (assemble, boilerplate, extract, markdown,
                                segment)

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


_TP_ATOMS = st.sampled_from([
    "[[LOWCONF]]", "[[/LOWCONF]]", "[[LOWCONF", "LOWCONF]]", "[[", "]]",
    "?", "drah?", "sdrow desrever", "drow", "plain words", "x", ".",
    " ", "  ", "\n", "\t", " \n\t ", "a?b c",
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
@given(st.lists(_TP_ATOMS, max_size=40), st.integers(0, 40), _SETTINGS)
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
    """No crash + parity on raw soup for all three twins."""
    assert boilerplate.html_arrays(raw) == \
        _compose(boilerplate.extract_html, raw)
    assert markdown.markdown_arrays(raw) == \
        _compose(markdown.extract_markdown, raw)
    assert segment.pdf_arrays(raw) == \
        _compose(segment.extract_pdf_layout, raw)


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
    checks = [
        (boilerplate.html_arrays, boilerplate.extract_html, big_html),
        (markdown.markdown_arrays, markdown.extract_markdown, big_md),
        (segment.pdf_arrays, segment.extract_pdf_layout, big_pdf),
    ]
    for arrays_fn, block_fn, raw in checks:
        got = arrays_fn(raw)
        assert got == _compose(block_fn, raw)
        text, spans, n_blocks, n_spans = got
        assert n_spans == len(spans) and n_blocks > 0
        for a, b in spans[:100]:
            assert raw[a:b].strip()
    # two_pass at scale through the real batch entry
    from frogocr_spark.core import extract
    import pandas as pd
    big_tp = ("plain words here [[LOWCONF]]delbrag sdrow[[/LOWCONF]] "
              "more text. ") * 12000                     # ~0.8 MB
    row = extract.extract_batch(pd.Series([big_tp]),
                                spans_as="pairs").iloc[0]
    rec = extract.extract_turn(big_tp)
    assert row["payload_class"] == rec["payload_class"] == "two_pass"
    assert row["extracted_text"] == rec["extracted_text"]
    assert row["n_spans"] == rec["n_spans"]
    assert row["confidence"] == rec["confidence"]
