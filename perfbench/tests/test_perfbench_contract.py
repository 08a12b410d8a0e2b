import json
import subprocess
import sys
from pathlib import Path

import gen
import run

ROOT = Path(__file__).resolve().parents[2]


def _bench():
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def test_benchmark_json_matches_the_code():
    b = _bench()
    assert {w["name"]: w["why"] for w in b["workloads"]} == \
        {s.name: s.why for s in gen.SPECS.values()}
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == \
        {k: v[0] for k, v in run.LAYER_METRICS.items()}


def test_unknown_workload_is_refused():
    p = subprocess.run([sys.executable, str(ROOT / "perfbench" / "run.py"),
                        "--workload", "nope", "--seed", "1", "--seconds", "1"],
                       capture_output=True, text=True, timeout=120)
    assert p.returncode != 0 and not p.stdout.strip()
