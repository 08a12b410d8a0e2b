"""Seeded workload generator for the pipeline benchmark.

Every row is ``frogocr_spark.sources.payloadgen.gen_turn(conv, turn)``, a
pure md5 function of ``(conv, turn)``.  The seed only moves the
conversation-id range (``conv = seed * SEED_STRIDE + i``), so every seed
gives new rows with the same class shares, and the same seed gives the
same files.  The program under test only ever sees the parquet written
here.
"""

from __future__ import annotations

import os
from collections import Counter
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

from frogocr_spark.sources import payloadgen as pg

SEED_STRIDE = 1_000_000

# the transcripts table schema (sources/transcripts.TRANSCRIPT_SCHEMA) in
# Arrow terms; turn_idx must be int32 or Spark refuses the column
ARROW_SCHEMA = pa.schema([
    pa.field("conv_id", pa.string(), False),
    pa.field("turn_idx", pa.int32(), False),
    pa.field("role", pa.string(), False),
    pa.field("text", pa.string()),
    pa.field("tool", pa.string()),
    pa.field("ts", pa.timestamp("us", tz="UTC"), False),
])

# one conversation in SAMPLE_EVERY goes into the digest sample (2%)
SAMPLE_EVERY = 50


@dataclass(frozen=True)
class Spec:
    """One workload: what is generated and why it was chosen."""
    name: str
    why: str
    n_convs: int
    n_files: int
    classes: tuple[str, ...] = ()     # keep only these classes (empty: all)
    mega_turns: int = 0               # raw turns of conversation 0
    resume: bool = False              # commit ~90% before the timed run


SPECS = {s.name: s for s in (
    Spec("batch_mix",
         "the payloadgen class wheel into an empty output root: two_pass, "
         "pdf_layout and html are 29% of rows but most of the compute, so "
         "extractor kernels show here",
         n_convs=6000, n_files=8),
    Spec("agent_resume",
         "plain and tool_json only, one conversation a third of the turns, "
         "90% already committed: resume anti-join, salted shuffle, append "
         "and sidecar dominate; kernels flat",
         n_convs=6000, n_files=8, classes=("plain", "tool_json"),
         mega_turns=30_000, resume=True),
)}


@dataclass
class Inputs:
    """What the benchmark knows about the generated input, counted by the
    generator itself (never read back from the program's output)."""
    input_dir: str
    base_dir: str | None       # committed prefix (resume workloads)
    n_turns: int               # input keys
    n_new: int                 # keys not committed before the timed run
    n_convs: int
    class_counts: dict[str, int]
    sample_convs: list[str]
    sample_rows: list[dict]    # generated rows of the sampled conversations


def _turns(spec: Spec, seed: int):
    """(conv index, conv, turn) in key order, class-filtered."""
    base = seed * SEED_STRIDE
    for i in range(spec.n_convs):
        conv = base + i
        n = spec.mega_turns if (i == 0 and spec.mega_turns) \
            else pg.turns_in_conv(conv)
        for t in range(n):
            if spec.classes and pg.payload_class(conv, t) not in spec.classes:
                continue
            yield i, conv, t, n


def _committed(spec: Spec, i: int, t: int, n: int) -> bool:
    """The committed prefix of a resume workload: the earlier turns of
    existing conversations.  The last 5% of conversations are new, every
    second existing conversation has one later turn, and the mega
    conversation has its last 10% of turns new."""
    if not spec.resume or i >= spec.n_convs * 95 // 100:
        return False
    if i == 0 and spec.mega_turns:
        return t < n * 9 // 10
    return not (t == n - 1 and i % 2 == 0)


def _write(rows: list[dict], out_dir: str, n_files: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for k in range(n_files):
        chunk = rows[k * len(rows) // n_files:(k + 1) * len(rows) // n_files]
        pq.write_table(pa.Table.from_pylist(chunk, schema=ARROW_SCHEMA),
                       os.path.join(out_dir, f"part-{k:05d}.parquet"))


def generate(spec: Spec, seed: int, out_dir: str) -> Inputs:
    """Write the workload's input under ``out_dir`` (``input/`` and, for a
    resume workload, the committed prefix under ``base/``)."""
    if seed < 0:
        raise ValueError(f"seed must be >= 0, got {seed}")
    rows: list[dict] = []
    base_rows: list[dict] = []
    classes: Counter = Counter()
    sample_convs: set[str] = set()
    sample_rows: list[dict] = []
    n_new = 0
    for i, conv, t, n in _turns(spec, seed):
        row = pg.gen_turn(conv, t)
        rows.append(row)
        classes[pg.payload_class(conv, t)] += 1
        if _committed(spec, i, t, n):
            base_rows.append(row)
        else:
            n_new += 1
        if i % SAMPLE_EVERY == 0:
            sample_convs.add(row["conv_id"])
            sample_rows.append(row)
    input_dir = os.path.join(out_dir, "input")
    _write(rows, input_dir, spec.n_files)
    base_dir = None
    if spec.resume:
        base_dir = os.path.join(out_dir, "base")
        _write(base_rows, base_dir, spec.n_files)
    return Inputs(input_dir=input_dir, base_dir=base_dir, n_turns=len(rows),
                  n_new=n_new, n_convs=spec.n_convs,
                  class_counts=dict(classes),
                  sample_convs=sorted(sample_convs), sample_rows=sample_rows)
