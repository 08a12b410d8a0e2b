"""Per-turn settings (F9/F7/SecondPass): parsing, the word-confidence
gate and the second-pass switch, per row and through the Spark operator."""

import itertools

import pandas as pd

from frogocr_spark.core.extract import (OUTPUT_COLUMNS, extract_batch,
                                        extract_turn)
from frogocr_spark.core.settings import Settings


# ---------- settings parsing (Settings.hpp analog) ----------

def test_settings_defaults_and_parse():
    s = Settings.parse_csv(None)
    assert s.min_word_confidence == 0.0 and s.second_pass
    s2 = Settings.parse_csv("MinWordConfidence=0.8,SecondPass=off,Detector=x")
    # Detector is not a key the extractor reads: parsed and ignored
    assert s2 == Settings(min_word_confidence=0.8, second_pass=False)
    # forgiving parse: bad value → default
    assert Settings.parse_csv("MinWordConfidence=abc").min_word_confidence == 0.0


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
