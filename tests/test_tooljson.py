"""tool_json projection: key priority, parse failure, span location,
and the value-token regex's memory on large values."""

import json
import random
import re
import tracemalloc

from frogocr_spark.core import tooljson


def test_key_priority_content_first():
    raw = '{"text": "second", "content": "first"}'
    blocks, failed = tooljson.extract_tool_json(raw)
    assert not failed
    assert blocks[0].segments[0].text == "first"


def test_each_content_key():
    for key in tooljson.CONTENT_KEYS:
        raw = json.dumps({"status": "ok", key: "the payload"})
        blocks, failed = tooljson.extract_tool_json(raw)
        assert not failed and blocks[0].segments[0].text == "the payload", key


def test_parse_failure():
    blocks, failed = tooljson.extract_tool_json('{"status": "err", "content": "x')
    assert failed and blocks == []


def test_no_content_field():
    blocks, failed = tooljson.extract_tool_json('{"status": "ok", "exit_code": 0}')
    assert not failed and blocks == []


def test_non_dict_json():
    blocks, failed = tooljson.extract_tool_json("[1, 2, 3]")
    assert not failed and blocks == []


def test_span_points_at_value_token():
    raw = '{"status": "ok", "content": "find me here", "n": 1}'
    blocks, _ = tooljson.extract_tool_json(raw)
    seg = blocks[0].segments[0]
    assert raw[seg.start:seg.end] == "find me here"


def test_escaped_value_unescapes():
    raw = '{"content": "line one\\nline two"}'
    blocks, _ = tooljson.extract_tool_json(raw)
    seg = blocks[0].segments[0]
    assert seg.text == "line one\nline two"
    # invariant: unescaping the raw slice yields the text
    assert json.loads('"' + raw[seg.start:seg.end] + '"') == seg.text


def test_value_token_regex_matches_backtracking_reference():
    """The possessive value-token patterns find exactly what the plain
    backtracking loop finds, on strings dense in quotes, escapes and
    newlines (where giving back loop steps would matter)."""
    rng = random.Random(7)
    alphabet = ['"', "\\", "\n", " ", ":", "a", "é", '"content"',
                '"stdout"', '\\"', "\\\\"]
    for key, pat in tooljson._FIELD_RES.items():
        ref = re.compile(r'"' + key + r'"\s*:\s*"((?:[^"\\]|\\.)*)"')
        for _ in range(3000):
            raw = f'"{key}": "' + "".join(
                rng.choice(alphabet) for _ in range(rng.randrange(12)))
            raw = "".join(rng.choice(alphabet) for _ in range(3)) + raw
            want, got = ref.search(raw), pat.search(raw)
            assert (got and got.span(1)) == (want and want.span(1)), raw


def test_large_value_scans_in_bounded_memory():
    """A 1 MB escaped value: the projection's peak Python allocation
    stays a small multiple of the payload (the per-character
    backtracking loop took 144 MB here, 7 GB for a 50 MB value)."""
    raw = json.dumps({"status": "ok", "stdout": 'ab "q"\n' * (1 << 17)})
    tracemalloc.start()
    try:
        got = tooljson.tool_json_arrays(raw)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert got[0] == 'ab "q"\n' * (1 << 17) and got[2:] == (1, 1, False)
    assert json.loads('"' + raw[slice(*got[1][0])] + '"') == got[0]
    assert peak < 8 * len(raw), peak
