"""Driver-contract registry invariants — pure Python, no Spark session.

The driver's correctness artifact records exactly the first 50 registry
rows, so their names and order are pinned to ``CORRECTNESS_r05.json``.
Every row but the last carries a DuckDB oracle; the last row is the one
rows-only row, so any truncation of the registry drops only a row that
carries no hash signal.
"""

from __future__ import annotations

import json
import os

import __spark_entry__ as entry

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_driver_window_matches_correctness_artifact():
    with open(os.path.join(REPO, "CORRECTNESS_r05.json")) as f:
        window = list(json.load(f))
    assert list(entry.queries())[:50] == window


def test_every_oracle_names_a_query():
    dangling = set(entry.oracle_sql()) - set(entry.queries())
    assert not dangling, sorted(dangling)


def test_every_row_but_the_last_has_an_oracle():
    names = list(entry.queries())
    missing = [q for q in names[:-1] if q not in entry.oracle_sql()]
    assert not missing, missing


def test_last_row_is_pipeline_extract():
    assert list(entry.queries())[-1] == "pipeline_extract"
