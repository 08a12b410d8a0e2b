"""Structured tool-output extraction (FIXTURES.md §2.4).

The analog of FrogOCR's dynamic ``settings_csv`` → typed projection with
key fallbacks (reference ``Source/Settings.hpp:56-209``: a key=value map is
probed with a fixed fallback order and defaults).  Here the payload is a
JSON object from a ``tool`` turn; the extractor projects the first present
content field out of a fixed priority list and drops the envelope.

Spans: the span points at the raw JSON string token of the extracted value
(between the quotes).  When the value contains JSON escapes the invariant
is ``json-unescape(raw[start:end]) == extracted_text`` (documented
exception to the raw-slice rule — assemble.py module doc).
"""

from __future__ import annotations

import json
import re

from .assemble import Block, Segment

CONTENT_KEYS = ("content", "text", "output", "stdout", "result", "data")

# "key" : "value-with-escapes"   (group 1 = raw value token).  The
# quantifiers are possessive: with a backtracking loop per character,
# sre kept ~140 bytes of state per character of the value (7 GB peak for
# a 50 MB one).  Every loop step starts at a character that is not a
# quote, so giving steps back could never put the closing quote next:
# the matches are those of the plain ``(?:[^"\\]|\\.)*`` loop.
_FIELD_RES = {
    k: re.compile(r'"' + k + r'"\s*:\s*"((?:[^"\\]++|\\.)*+)"')
    for k in CONTENT_KEYS
}


def extract_tool_json(raw: str) -> tuple[list[Block], bool]:
    """Returns ``(blocks, parse_failed)``.

    A payload that is not a JSON object, or has no string content field,
    yields no blocks; ``parse_failed`` is True only for undecodable JSON
    (the input-missing F2 analog — ``Source/TaskProcessor.cpp:196-209``).
    """
    try:
        obj = json.loads(raw)
    except (json.JSONDecodeError, TypeError):
        return [], True
    if not isinstance(obj, dict):
        return [], False
    for key in CONTENT_KEYS:
        val = obj.get(key)
        if isinstance(val, str):
            m = _FIELD_RES[key].search(raw)
            if m:
                start, end = m.start(1), m.end(1)
            else:  # value present but not as a simple string token
                start, end = 0, 0
            seg = Segment(text=val, start=start, end=end, glue="")
            return [Block(segments=[seg], kind="tool",
                          detector="json", recognizer="projection")], False
    return [], False


def tool_json_arrays(
        raw: str) -> tuple[str, list[tuple[int, int]], int, int, bool]:
    """Row scanner twin of :func:`extract_tool_json` +
    ``assemble.prune_empty`` + ``assemble.assemble``: a payload yields at
    most one segment, so pruning reduces to keeping the value iff
    ``val.strip()``.  Returns ``(extracted_text, span_pairs, n_blocks,
    n_spans, parse_failed)``."""
    try:
        obj = json.loads(raw)
    except (json.JSONDecodeError, TypeError):
        return "", [], 0, 0, True
    if isinstance(obj, dict):
        for key in CONTENT_KEYS:
            val = obj.get(key)
            if isinstance(val, str):
                # the reference stops at the FIRST string-valued key,
                # even when that value prunes to empty
                if not val.strip():
                    break
                m = _FIELD_RES[key].search(raw)
                return val, [m.span(1) if m else (0, 0)], 1, 1, False
    return "", [], 0, 0, False
