"""Output check: the committed table against what the generator wrote.

The benchmark counts input keys itself; ``plans.metrics`` derives both
``rows_in`` and ``rows_out`` from the output, so the sidecar alone cannot
see a lost row.  Per-row content is checked by an order-independent digest
over a deterministic sample of conversations, compared with the digest of
the scalar oracle ``core.extract.extract_turn`` on the same generated rows.
The committed files are read with pyarrow, so the check adds no Spark job
to the JVM whose CPU time the benchmark measures.
"""

from __future__ import annotations

import hashlib
import json
import os

from frogocr_spark.core.extract import extract_turn

DIGEST_COLUMNS = ("conv_id", "turn_idx", "payload_class", "extracted_text",
                  "spans", "n_blocks", "n_spans", "n_variants",
                  "parse_failed", "empty_after_strip")


def row_key(conv_id: str, turn_idx: int, payload_class: str,
            extracted_text: str, spans, n_blocks: int, n_spans: int,
            n_variants: int, parse_failed: bool,
            empty_after_strip: bool) -> bytes:
    """Canonical bytes of one output row; ``spans`` is (start, end) pairs."""
    return json.dumps(
        [conv_id, int(turn_idx), payload_class, extracted_text,
         [[int(a), int(b)] for a, b in spans], int(n_blocks), int(n_spans),
         int(n_variants), bool(parse_failed), bool(empty_after_strip)],
        ensure_ascii=False, separators=(",", ":")).encode()


def digest(keys) -> str:
    """Order-independent digest: row count plus the sum of per-row md5
    values mod 2**128 (a sum, unlike xor, does not cancel duplicates)."""
    total = 0
    n = 0
    for k in keys:
        total = (total + int.from_bytes(hashlib.md5(k).digest(), "big")) \
            % (1 << 128)
        n += 1
    return f"{n}:{total:032x}"


def oracle_digest(rows: list[dict]) -> str:
    """Digest of the scalar oracle over generated rows."""
    def keys():
        for r in rows:
            o = extract_turn(r["text"])
            yield row_key(r["conv_id"], r["turn_idx"], o["payload_class"],
                          o["extracted_text"],
                          [(s["start"], s["end"]) for s in o["spans"]],
                          o["n_blocks"], o["n_spans"], o["n_variants"],
                          o["parse_failed"], o["empty_after_strip"])
    return digest(keys())


def output_digest(spark_rows) -> str:
    """Digest of collected Spark output rows (``DIGEST_COLUMNS`` order)."""
    return digest(row_key(r[0], r[1], r[2], r[3],
                          [(s["start"], s["end"]) for s in r[4]],
                          *r[5:]) for r in spark_rows)


def table_files(table) -> list[str]:
    """Parquet files of a ``sources.catalog.Table``'s live snapshots."""
    files = []
    for run_id in table.snapshots():
        run_dir = os.path.join(table.data_dir, f"run_id={run_id}")
        for root, _dirs, names in os.walk(run_dir):
            files += [os.path.join(root, f) for f in names
                      if f.endswith(".parquet") and not f.startswith(".")]
    return sorted(files)


def check_table(files: list[str], n_keys: int, sample_convs: list[str],
                expected_digest: str) -> list[str]:
    """Problems found in a committed extraction table (empty: correct).

    ``files`` (``table_files``) must hold exactly one row per input key,
    and their sampled rows must digest to the oracle's value."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.dataset as ds
    problems = []
    t = ds.dataset(files, format="parquet").to_table(
        columns=list(DIGEST_COLUMNS))
    n = t.num_rows
    k = t.group_by(["conv_id", "turn_idx"]).aggregate([]).num_rows
    if n != n_keys or k != n_keys:
        problems.append(f"table holds {n} rows / {k} keys, input has "
                        f"{n_keys} keys")
    sampled = t.filter(pc.is_in(t["conv_id"],
                                value_set=pa.array(sample_convs)))
    got = output_digest(zip(*(sampled[c].to_pylist()
                              for c in DIGEST_COLUMNS)))
    if got != expected_digest:
        problems.append(f"sample digest {got} != oracle {expected_digest}")
    return problems


def check_stats(stats: dict, n_new: int) -> list[str]:
    """run_extraction's sidecar and observe() totals against the rows the
    run had to extract (counted by the generator)."""
    problems = []
    observed = stats.get("observed", {}).get("rows_out")
    for what, got in (("sidecar rows_in", stats.get("rows_in")),
                      ("sidecar rows_out", stats.get("rows_out")),
                      ("observe rows_out", observed)):
        if got != n_new:
            problems.append(f"{what} = {got}, expected {n_new}")
    return problems
