from collections import Counter
from dataclasses import replace

import pyarrow.parquet as pq
import pytest

import gen


def _read(path):
    return pq.read_table(path).to_pylist()


def test_same_seed_same_input_new_seed_new_bytes(tmp_path):
    spec = replace(gen.SPECS["batch_mix"], n_convs=200)
    a = gen.generate(spec, 7, str(tmp_path / "a"))
    b = gen.generate(spec, 7, str(tmp_path / "b"))
    c = gen.generate(spec, 8, str(tmp_path / "c"))
    assert _read(a.input_dir) == _read(b.input_dir)
    assert a.sample_convs == b.sample_convs
    first, other = _read(a.input_dir), _read(c.input_dir)
    assert {r["conv_id"] for r in first}.isdisjoint(
        r["conv_id"] for r in other)
    # texts come from a 60-word vocabulary, so single texts can repeat
    assert [r["text"] for r in first] != [r["text"] for r in other]
    assert len(list((tmp_path / "a" / "input").iterdir())) == spec.n_files


def test_batch_mix_class_shares(tmp_path):
    inp = gen.generate(gen.SPECS["batch_mix"], 3, str(tmp_path))
    share = {c: k / inp.n_turns for c, k in inp.class_counts.items()}
    assert share["plain"] == pytest.approx(0.29, abs=0.02)
    assert share["tool_json"] == pytest.approx(0.32, abs=0.02)
    for c in ("two_pass", "pdf_layout", "html", "markdown"):
        assert share[c] == pytest.approx(0.098, abs=0.01)
    assert inp.n_new == inp.n_turns == len(_read(inp.input_dir))
    assert len(inp.sample_convs) >= inp.n_convs // 100


def test_agent_resume_input(tmp_path):
    inp = gen.generate(gen.SPECS["agent_resume"], 3, str(tmp_path))
    assert set(inp.class_counts) == {"plain", "tool_json"}
    full = _read(inp.input_dir)
    per_conv = Counter(r["conv_id"] for r in full)
    assert max(per_conv.values()) / inp.n_turns == pytest.approx(1 / 3,
                                                                  abs=0.05)
    base = _read(inp.base_dir)
    assert len(base) + inp.n_new == len(full) == inp.n_turns
    assert len(base) / len(full) == pytest.approx(0.9, abs=0.02)
    committed = {(r["conv_id"], r["turn_idx"]) for r in base}
    assert committed <= {(r["conv_id"], r["turn_idx"]) for r in full}
    # the committed turns are the earlier turns of their conversation
    last_committed = Counter()
    for cid, t in committed:
        last_committed[cid] = max(last_committed[cid], t + 1)
    assert all(r["turn_idx"] >= last_committed[r["conv_id"]]
               for r in full
               if (r["conv_id"], r["turn_idx"]) not in committed)


def test_negative_seed_is_refused(tmp_path):
    with pytest.raises(ValueError):
        gen.generate(gen.SPECS["batch_mix"], -1, str(tmp_path))
