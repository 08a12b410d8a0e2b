"""Per-turn settings (F9/F7/SecondPass), directory source (S4),
XML validate roundtrip (S8)."""

import itertools

import pandas as pd

from frogocr_spark.core import alto
from frogocr_spark.core.extract import (OUTPUT_COLUMNS, extract_batch,
                                        extract_turn)
from frogocr_spark.core.settings import Settings


# ---------- settings parsing (Settings.hpp analog) ----------

def test_settings_defaults_and_parse():
    s = Settings.parse_csv(None)
    assert s.min_word_confidence == 0.0 and s.second_pass
    s2 = Settings.parse_csv("MinWordConfidence=0.8,SecondPass=off,Detector=x")
    assert s2.min_word_confidence == 0.8
    assert not s2.second_pass and s2.detector == "x"
    # forgiving parse: bad value → default
    assert Settings.parse_csv("MinWordConfidence=abc").min_word_confidence == 0.0


def test_settings_csv_roundtrip():
    s = Settings(min_word_confidence=0.8, second_pass=False, detector="d")
    assert Settings.parse_csv(s.csv()) == s


# ---------- F7 word-confidence gate + SecondPass=off ----------

TP = "good words [[LOWCONF]]" + "fixed text"[::-1] + "[[/LOWCONF]] tail"


def test_min_word_confidence_gate():
    # default: garbled replaced by second pass at conf .96
    assert extract_turn(TP)["extracted_text"] == "good words fixed text tail"
    # gate above second-pass conf (.96) but below nothing: everything from
    # the first pass (conf .92) is dropped, second-pass words survive
    rec = extract_turn(TP, "MinWordConfidence=0.95")
    assert rec["extracted_text"] == "fixed text"


def test_second_pass_off():
    rec = extract_turn(TP, "SecondPass=off")
    assert rec["extracted_text"] == "good words txet dexif tail"
    # and the garbled words then fall to a 0.5 gate
    rec2 = extract_turn(TP, "SecondPass=off,MinWordConfidence=0.5")
    assert rec2["extracted_text"] == "good words tail"


def test_batch_settings_routing():
    texts = pd.Series([TP, TP, "plain text here"])
    settings = pd.Series(["", "SecondPass=off", None])
    out = extract_batch(texts, settings)
    assert out.iloc[0]["extracted_text"] == "good words fixed text tail"
    assert out.iloc[1]["extracted_text"] == "good words txet dexif tail"
    assert out.iloc[2]["extracted_text"] == "plain text here"
    assert out["n_blocks"].dtype == "int32"


MALFORMED = [
    "<div><p>unclosed paragraph with several words in it",
    "<nav>menu</nav><p>body <a href='x'>link</p></div></div>",
    "<p>tag soup < > </ /> words after</span>",
    '{"content": "truncated', '{broken json', '{"content": "a \\"q\\"',
    '{"data": "low", "content": "   "}',
    "# heading\n[unclosed](link **bold", "```\nfence never closed",
    "> quote\n- item *em", "@10,100,20,8|word @1,2|short @x,y,w,h|bad",
    "@12,760,9,9|footer @40,40,10,10|header", "@5,60,3,9|tiny",
    "good [[LOWCONF]]drow", "[[LOWCONF]][[LOWCONF]]a[[/LOWCONF]]",
    "x [[LOWCONF]]?drah[[/LOWCONF]] [[LOWCONF]]ysae[[/LOWCONF]] y",
    TP, "   ", "", None,
]


def test_spark_operator_settings_col(spark):
    """Truncated/unbalanced payloads of every class through the Spark
    operator, with and without per-turn settings: each output row equals
    the reference record."""
    settings = [None, "", "SecondPass=off", "MinWordConfidence=0.95",
                "MinWordConfidence=1.5", "Detector=x"]
    rows = [("c", i, raw, csv) for i, (raw, csv)
            in enumerate(itertools.product(MALFORMED, settings))]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, text string, settings string")
    from frogocr_spark.operators.extraction import extract_turns
    got = {r.turn_idx: r.asDict(recursive=True) for r in
           extract_turns(df, passthrough=("conv_id", "turn_idx"),
                         settings_col="settings",
                         with_partition_id=False).collect()}
    assert len(got) == len(rows)
    for _, i, raw, csv in rows:
        rec = extract_turn(raw, csv)
        for col in OUTPUT_COLUMNS:
            assert got[i][col] == rec[col], (col, raw, csv)
    tp = [i for _, i, raw, _ in rows if raw == TP]
    assert {got[i]["extracted_text"] for i in tp} == {
        "good words fixed text tail", "good words txet dexif tail",
        "fixed text", ""}


# ---------- S4 directory enumeration ----------

def test_enumerate_files(spark, tmp_path):
    (tmp_path / "sub").mkdir()
    (tmp_path / "a.jpg").write_bytes(b"\xff\xd8\xffAAA")
    (tmp_path / "sub" / "b.jpg").write_bytes(b"\xff\xd8\xffBB")
    (tmp_path / "c.txt").write_bytes(b"nope")
    from frogocr_spark.sources.files import as_task_rows, enumerate_files
    files = enumerate_files(spark, str(tmp_path))
    rows = sorted(files.collect(), key=lambda r: r.input_path)
    assert len(rows) == 2
    assert rows[0].input_path.endswith("a.jpg")
    assert rows[0].output_path.endswith("a.xml")
    assert rows[1].input_path.endswith("sub/b.jpg")
    tasks = as_task_rows(files, priority=3, settings_csv="Dpi=300").collect()
    assert all(t.priority == 3 and t.settings_csv == "Dpi=300" for t in tasks)


# ---------- S8 validation roundtrip ----------

def test_xml_roundtrip_validates():
    rec = extract_turn("@60,100,50,14|hello @120,102,50,14|world")
    xml = alto.render_turn_xml("cv", 1, rec["payload_class"],
                               [(s["start"], s["end"]) for s in rec["spans"]],
                               rec["extracted_text"], rec["confidence"])
    assert alto.validate_turn_xml(xml) == []
    doc = alto.parse_turn_xml(xml)
    assert [w["content"] for b in doc["blocks"] for w in b["words"]] \
        == ["hello", "world"]
    assert doc["blocks"][0]["words"][0]["start"] is not None


def test_validator_catches_violations():
    bad = ('<page ID="p_0" CONV="c" CLASS="plain" CONF="1.5">'
           '<block ID="p_0_b_0"><string ID="p_0_b_0_s_1" CONTENT="x"/>'
           '</block></page>')
    errs = alto.validate_turn_xml(bad)
    assert any("confidence" in e or "out of range" in e for e in errs)
    assert any("word id order" in e for e in errs)
    assert alto.validate_turn_xml("<not-xml")[0].startswith("parse:")


_VALID = ('<page ID="p_0" CONV="c" CLASS="plain" CONF="0.9000">'
          '<processing SOFTWARE="fs" CATEGORY="contentGeneration"/>'
          '<block ID="p_0_b_0">'
          '<string ID="p_0_b_0_s_0" CONTENT="x" START="2" END="5"/>'
          '</block></page>')


def test_variant_glyph_depth_roundtrip():
    """Full ALTO output-model depth (String → Glyph → Variant,
    WriteXml.cpp:89-129): render → schema-validate → parse → re-render
    is byte-identical, and real two-pass variants flow end to end."""
    from frogocr_spark.core.extract import extract_turn

    # real variants from the two-pass replacement
    raw = "head [[LOWCONF]]" + "fixed text"[::-1] + "[[/LOWCONF]] tail"
    rec = extract_turn(raw)
    assert rec["n_variants"] == 2
    details = [{"variants": v} for v in rec["word_variants"]]
    xml = alto.render_turn_xml("cv", 0, rec["payload_class"],
                               [(s["start"], s["end"]) for s in rec["spans"]],
                               rec["extracted_text"], rec["confidence"],
                               word_details=details)
    assert alto.validate_turn_xml(xml) == []
    doc = alto.parse_turn_xml(xml)
    words = [w for b in doc["blocks"] for w in b["words"]]
    assert [w["content"] for w in words] == ["head", "fixed", "text", "tail"]
    got_vars = {w["content"]: w["variants"] for w in words if w["variants"]}
    assert set(got_vars) == {"fixed", "text"}
    for vs in got_vars.values():
        assert all(t in ("txet", "dexif") and 0 < c < 1 for t, c in vs)

    # synthetic glyph depth: render → validate → parse → re-render stable
    details = [{"glyphs": [
        {"content": "h", "conf": 0.91,
         "variants": [("n", 0.41), ("b", 0.15)]},
        {"content": "i", "conf": 0.99, "variants": []},
    ], "variants": [("hI", 0.33)]}]
    xml = alto.render_turn_xml("cv", 1, "plain", [(0, 2)], "hi", 0.95,
                               word_details=details)
    assert alto.validate_turn_xml(xml) == []
    doc = alto.parse_turn_xml(xml)
    w = doc["blocks"][0]["words"][0]
    assert [g["content"] for g in w["glyphs"]] == ["h", "i"]
    assert w["glyphs"][0]["variants"] == [("n", 0.41), ("b", 0.15)]
    assert w["glyphs"][0]["id"] == "p_1_b_0_s_0_g_0"
    assert w["variants"] == [("hI", 0.33)]
    # re-render from the parsed model is byte-identical (true roundtrip)
    details2 = [{"glyphs": w["glyphs"], "variants": w["variants"]}]
    xml2 = alto.render_turn_xml("cv", 1, "plain", [(0, 2)], "hi", 0.95,
                                word_details=details2)
    assert xml2 == xml


def test_xsd_schema_validation():
    """Each malformed doc fails on the SAME constraint class the
    reference's compiled alto-4-4.xsd validator (Validator.cpp:30-50)
    would report: enumerations, required attributes, undeclared
    attributes/elements, cardinality, typed values, asserts."""
    assert alto.validate_turn_schema(_VALID) == []

    def one(mutated, needle):
        errs = alto.validate_turn_schema(mutated)
        assert any(needle in e for e in errs), (mutated, errs)

    # enumeration violation (processingCategoryType, alto-4-4.xsd:936)
    one(_VALID.replace("contentGeneration", "generated"),
        "not in enumeration")
    one(_VALID.replace('CLASS="plain"', 'CLASS="prose"'),
        "not in enumeration")
    # required attribute missing
    one(_VALID.replace(' CONF="0.9000"', ""), "@CONF: required")
    one(_VALID.replace(' SOFTWARE="fs"', ""), "@SOFTWARE: required")
    # undeclared attribute / element (xsd default: closed content)
    one(_VALID.replace('CONV="c"', 'CONV="c" EXTRA="1"'),
        "@EXTRA: attribute not allowed")
    one(_VALID.replace("</block>", "</block><footer/>"),
        "unexpected element <footer>")
    # closed CONTENT MODEL: a schema-KNOWN element in the wrong parent
    # is rejected too (a real XSD content model catches misplacement,
    # not just unknown tags) — and the document root must be <page>
    one(_VALID.replace('CONTENT="x" START="2" END="5"/>',
                       'CONTENT="x" START="2" END="5">'
                       '<processing SOFTWARE="evil" '
                       'CATEGORY="contentGeneration"/></string>'),
        "not allowed inside <string>")
    one(_VALID.replace("</block>",
                       '<string ID="p_0_b_0_s_1" CONTENT="y">'
                       '<variant CONTENT="v" VC="0.5">'
                       '<variant CONTENT="w" VC="0.5"/></variant>'
                       "</string></block>"),
        "not allowed inside <variant>")
    assert any("root must be <page>" in e for e in alto.validate_turn_schema(
        '<variant CONTENT="x" VC="0.5"/>'))
    # cardinality: empty block (minOccurs=1) and duplicate processing
    one(_VALID.replace('<string ID="p_0_b_0_s_0" CONTENT="x" START="2" '
                       'END="5"/>', ""), "minOccurs")
    one(_VALID.replace(
        '<block', '<processing SOFTWARE="fs" '
        'CATEGORY="contentGeneration"/><block'), "maxOccurs")
    # typed values: non-numeric CONF, bad span int, whitespace CONTENT
    one(_VALID.replace('CONF="0.9000"', 'CONF="high"'), "not a decimal")
    one(_VALID.replace('START="2"', 'START="-2"'),
        "not a non-negative integer")
    one(_VALID.replace('CONTENT="x"', 'CONTENT="  "'),
        "must not be empty")
    # assert-style co-constraints: unpaired span, START >= END
    one(_VALID.replace(' START="2"', ""), "START/END must be paired")
    one(_VALID.replace('END="5"', 'END="2"'), "START must be < END")
    # ID pattern
    one(_VALID.replace('ID="p_0_b_0_s_0"', 'ID="s0"'),
        "does not match pattern")


def test_xsd_grammar_file_is_executed_and_equivalent():
    """S8: the validator's active table is COMPILED from the literal
    resources/turn_schema.xsd (Validator.cpp:30-50 analog), and is
    behaviorally identical to the hand-written fallback table — same
    tags, same attribute requiredness, same content-model bounds, and
    the same diagnostic for every probe value."""
    from frogocr_spark.core import xsdschema

    active = alto._schema_table()
    hand = alto._TURN_XML_SCHEMA
    assert active is not hand          # the grammar file actually loaded
    assert set(active) == set(hand)
    probes = ["", "  ", "x", "p_1", "p_1_b_2", "p_1_b_2_s_3",
              "p_1_b_2_s_3_g_4", "0.5", "1", "1.5", "-1", "3", "plain",
              "prose", "contentGeneration", "generated", "0", "00.5",
              "high", "1e-3", "s0"]
    for tag in hand:
        a_attrs, a_children = active[tag]
        h_attrs, h_children = hand[tag]
        assert set(a_attrs) == set(h_attrs), tag
        assert a_children == h_children, tag
        for name in h_attrs:
            assert a_attrs[name][0] == h_attrs[name][0], (tag, name)
            for v in probes:
                assert a_attrs[name][1](v) == h_attrs[name][1](v), \
                    (tag, name, v)
    # the compiler rejects grammars with dangling child refs
    import pytest as _pytest
    bad = ('<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">'
           '<xs:element name="a"><xs:complexType><xs:sequence>'
           '<xs:element ref="ghost"/></xs:sequence></xs:complexType>'
           '</xs:element></xs:schema>')
    with _pytest.raises(ValueError):
        xsdschema.compile_xsd(bad)
