import pandas as pd

import check
from frogocr_spark.core.extract import extract_batch
from frogocr_spark.sources import payloadgen as pg


def _rows(n_convs=12):
    return [pg.gen_turn(c, t) for c in range(n_convs)
            for t in range(pg.turns_in_conv(c))]


def _output_rows(rows):
    """Rows shaped like the Spark output collected by check_table."""
    out = extract_batch(pd.Series([r["text"] for r in rows]), None,
                        spans_as="pairs")
    return [(r["conv_id"], r["turn_idx"], o.payload_class, o.extracted_text,
             [{"start": a, "end": b} for a, b in o.spans], o.n_blocks,
             o.n_spans, o.n_variants, o.parse_failed, o.empty_after_strip)
            for r, o in zip(rows, out.itertuples())]


def test_oracle_digest_matches_batch_output():
    rows = _rows()
    assert check.output_digest(_output_rows(rows)) == \
        check.oracle_digest(rows)


def test_digest_ignores_row_order():
    out = _output_rows(_rows())
    assert check.output_digest(out) == check.output_digest(out[::-1])


def test_digest_changes_with_one_span():
    out = _output_rows(_rows())
    i = next(i for i, r in enumerate(out) if r[4])
    spans = [dict(s) for s in out[i][4]]
    spans[0]["end"] += 1
    changed = out[:i] + [out[i][:4] + (spans,) + out[i][5:]] + out[i + 1:]
    assert check.output_digest(changed) != check.output_digest(out)


def test_digest_sees_a_duplicate_row():
    out = _output_rows(_rows())
    assert check.output_digest(out + out[:1]) != check.output_digest(out)


def test_check_stats_uses_the_generator_count():
    stats = {"rows_in": 9, "rows_out": 9, "observed": {"rows_out": 9}}
    assert check.check_stats(stats, 9) == []
    # the sidecar agrees with itself but lost a row against the input
    assert len(check.check_stats(stats, 10)) == 3


def _write(rows, path):
    import pyarrow as pa
    import pyarrow.parquet as pq
    pq.write_table(pa.Table.from_pylist(
        [dict(zip(check.DIGEST_COLUMNS, r)) for r in rows]), path)
    return str(path)


def test_check_table_reads_the_committed_files(tmp_path):
    rows = _rows()
    out = _output_rows(rows)
    convs = sorted({r["conv_id"] for r in rows})[::3]
    sample = [r for r in rows if r["conv_id"] in convs]
    want = check.oracle_digest(sample)
    files = [_write(out[:40], tmp_path / "a.parquet"),
             _write(out[40:], tmp_path / "b.parquet")]
    assert check.check_table(files, len(rows), convs, want) == []
    # a duplicated row: one key too many, and the digest moves if sampled
    files.append(_write(out[:1], tmp_path / "c.parquet"))
    assert check.check_table(files, len(rows), convs, want)
