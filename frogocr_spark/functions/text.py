"""Scalar string functions re-expressed from the reference's string core
(SURVEY §2.7).  Each is a plain Column expression — codegen'd, no UDFs.
``xml_attribute_escape`` and ``merge_tokens`` have DuckDB oracles in
``__spark_entry__`` (rows ``c7_xml_escape``, ``c5_token_assembly``); the
settings helpers are checked in pytest.

Reference citations:
- xml_attribute_escape — ``Source/Core/String.hpp:82-88`` (& FIRST, then
  quote/lt/gt — order matters, tested)
- settings_csv_to_map  — ``Source/Settings.hpp:70-78`` (k=v CSV map)
- merge_tokens         — ``merge_strings`` ``Source/Core/String.cpp:110-132``
- levenshtein          — ``Source/Core/String.cpp:134-179`` → built-in
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def xml_attribute_escape(col: Column) -> Column:
    """Escape &, ", <, > for XML attributes — ampersand first, exactly like
    the reference's to_xml_attribute (String.hpp:82-88)."""
    out = F.replace(col, F.lit("&"), F.lit("&amp;"))
    out = F.replace(out, F.lit('"'), F.lit("&quot;"))
    out = F.replace(out, F.lit("<"), F.lit("&lt;"))
    out = F.replace(out, F.lit(">"), F.lit("&gt;"))
    return out


def settings_csv_to_map(col: Column) -> Column:
    """``k1=v1,k2=v2`` → map<string,string> (Settings::parse analog)."""
    return F.str_to_map(col, F.lit(","), F.lit("="))


def setting_with_default(settings_map: Column, key: str, default: str) -> Column:
    """Typed setting projection with fallback (Settings.hpp:131-209 F9)."""
    return F.coalesce(settings_map.getItem(key), F.lit(default))


def merge_tokens(col: Column, glue: str = " ") -> Column:
    """Split on whitespace, drop empties, re-join — merge_strings + the
    whitespace-word drop of WriteXml.cpp:90-92."""
    return F.array_join(
        F.filter(F.split(col, r"\s+"), lambda x: x != ""), glue)
