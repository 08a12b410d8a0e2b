"""Scale certification at sf-equiv 10 (VERDICT r4 #1).

The 100 TB story previously extrapolated from sf0.1 → sf1 (465k →
647k turns/s, per-turn throughput RISING with scale).  This run adds
the next decade: ~60M generated transcript turns (100× the driver's
sf0.1) through the full extraction operator, plus the slowest panel
queries over workload-preserving ×100 scaled tables
(tools/gen_sfbig.py — linear-scaling by construction, so superlinear
runtime growth indicts the plan, not the data).

Measures and records (BENCH/bench_r5_sf10.json):
- extraction turns/s at 32 cores (best of reps, window=1 — each action
  is ~2 min of real work, fixed costs are already amortized);
- executor-memory peak + shuffle/memory spill totals from the live UI
  REST API (spill evidence: the "no OOM, no spill" claim is measured,
  not asserted);
- the 4→16 scaling pair at this scale (3 interleaved rounds);
- the N slowest r4 panel queries, single cold run each, vs their
  sf0.1 single-run times on the same box for a growth ratio.

Usage: python tools/bench_sf10.py [sf_equiv=10] [out_json]
Env: SF10_QUERIES=comma-list overrides the query subset;
     SF10_PHASES=extract,scaling,queries selects phases (default all);
     results are merged INTO an existing out_json, and written
     incrementally after each phase, so a crashed phase loses nothing
     and a rerun can target just the failed phase.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
os.environ.setdefault("SPARK_DRIVER_MEM", "64g")

import bench  # noqa: E402

SLOWEST = ["dedup_jaccard", "minhash_err", "clustering_ari",
           "dedup_minhash", "semdedup", "graph_2hop_hll", "cv_folds",
           "dedup_minhash_xx", "winnowing", "novelty"]
UI_PORT = 4049


def _ui(path: str):
    with urllib.request.urlopen(
            f"http://localhost:{UI_PORT}{path}", timeout=10) as r:
        return json.load(r)


def _app_id():
    return _ui("/api/v1/applications")[0]["id"]


def _spill_and_peak(app_id: str) -> dict:
    stages = _ui(f"/api/v1/applications/{app_id}/stages?status=complete")
    mem_spill = sum(s.get("memoryBytesSpilled", 0) for s in stages)
    disk_spill = sum(s.get("diskBytesSpilled", 0) for s in stages)
    execs = _ui(f"/api/v1/applications/{app_id}/executors")
    peaks = [e.get("peakMemoryMetrics") or {} for e in execs]
    heap = max((p.get("JVMHeapMemory", 0) for p in peaks), default=0)
    offheap = max((p.get("JVMOffHeapMemory", 0) for p in peaks),
                  default=0)
    return {"memory_spill_bytes": mem_spill,
            "disk_spill_bytes": disk_spill,
            "peak_jvm_heap_bytes": heap,
            "peak_jvm_offheap_bytes": offheap}


def main() -> None:
    sf_equiv = float(sys.argv[1]) if len(sys.argv) > 1 else 10.0
    out_path = sys.argv[2] if len(sys.argv) > 2 \
        else "/root/repo/BENCH/bench_r5_sf10.json"
    work = os.environ.get("SF10_WORKDIR", "/tmp/sf10_cert")
    os.makedirs(work, exist_ok=True)
    input_dir = os.path.join(work, "transcripts")
    scaled_dir = os.path.join(work, "sfbig")
    queries = os.environ.get("SF10_QUERIES", "").split(",") \
        if os.environ.get("SF10_QUERIES") else SLOWEST

    phases = set(os.environ.get("SF10_PHASES",
                                "extract,scaling,queries").split(","))

    from frogocr_spark.operators.extraction import extract_turns
    from frogocr_spark.session import get_spark
    from frogocr_spark.sources import transcripts

    result: dict = {"metric": "sf10_scale_certification",
                    "sf_equiv": sf_equiv, "cpus": 32}
    if os.path.exists(out_path):
        with open(out_path) as fh:
            result.update(json.load(fh))

    def _flush():
        with open(out_path, "w") as fh:
            json.dump(result, fh, indent=1)

    # ---- 1. materialize ~sf_equiv*6M transcript turns (distributed gen)
    if not os.path.exists(os.path.join(input_dir, "_SUCCESS")):
        t0 = time.time()
        spark = get_spark(app_name="sf10-gen", cores=32)
        n_convs = transcripts.n_convs_for_sf(sf_equiv)
        tdf = transcripts.generate(spark, n_convs, partitions=1024)
        tdf.repartition(1024).write.mode("overwrite").parquet(input_dir)
        result["gen_sec"] = round(time.time() - t0, 1)
        spark.stop()
    spark = get_spark(app_name="sf10-count", cores=32)
    n_rows = spark.read.parquet(input_dir).count()
    spark.stop()
    result["n_turns"] = n_rows
    print(json.dumps({"phase": "generated", "n_turns": n_rows}),
          flush=True)

    _flush()

    # ---- 2. extraction headline @32 with memory/spill evidence
    if "extract" in phases:
        spark = get_spark(app_name="sf10-extract", cores=32,
                          extra_conf={"spark.ui.enabled": "true",
                                      "spark.ui.port": str(UI_PORT)})
        try:
            df = spark.read.parquet(input_dir)
            best = float("inf")
            for rep in range(3):
                t0 = time.time()
                extract_turns(df).write.format("noop") \
                    .mode("overwrite").save()
                dt = time.time() - t0
                best = min(best, dt)
                print(json.dumps({"phase": "extract", "rep": rep,
                                  "sec": round(dt, 1)}), flush=True)
            result["extraction_turns_per_sec"] = round(n_rows / best, 1)
            result["extraction_best_sec"] = round(best, 1)
            result["extraction_metrics"] = _spill_and_peak(_app_id())
        finally:
            spark.stop()
        print(json.dumps({"phase": "extract_done",
                          "tput": result["extraction_turns_per_sec"]}),
              flush=True)
        _flush()

    # ---- 3. scaling pair 4->16 at this scale (3 interleaved rounds)
    if "scaling" in phases:
        lows, highs, effs = [], [], []
        for r in range(3):
            tl = bench._extraction_run(4, input_dir, n_rows,
                                       f"sf10-low4-r{r}", window=1)
            th = bench._extraction_run(16, input_dir, n_rows,
                                       f"sf10-high16-r{r}", window=1)
            lows.append(tl)
            highs.append(th)
            effs.append((th / tl) / 4.0)
            print(json.dumps({"phase": "scaling", "round": r,
                              "eff": round(effs[-1], 3)}), flush=True)
        import statistics
        result["scaling_4_16"] = {
            "turns_per_sec_low_per_round": [round(x, 1) for x in lows],
            "turns_per_sec_high_per_round": [round(x, 1) for x in highs],
            "efficiency_per_round": [round(e, 3) for e in effs],
            "efficiency": round(statistics.median(effs), 3),
        }
        _flush()

    # ---- 4. slowest panel queries over x100 scaled tables
    if "queries" in phases:
        replicas = int(round(sf_equiv / 0.1))
        if not os.path.exists(os.path.join(scaled_dir, "events.parquet",
                                           "_SUCCESS")):
            subprocess.run(
                [sys.executable,
                 os.path.join(os.path.dirname(os.path.abspath(__file__)),
                              "gen_sfbig.py"),
                 scaled_dir, str(replicas), bench.SF_DIR], check=True)
        import traceback

        import __spark_entry__ as entrymod
        qs = entrymod.queries()
        spark = get_spark(app_name="sf10-queries", cores=32,
                          extra_conf={"spark.ui.enabled": "true",
                                      "spark.ui.port": str(UI_PORT)})
        try:
            qres: dict = result.setdefault("queries", {})
            for name in queries:
                if name in qres and "error" not in qres[name]:
                    continue  # already certified in a prior run
                try:
                    # sf0.1 single cold run, then the x100 run
                    t0 = time.time()
                    qs[name](spark, bench.SF_DIR) \
                        .write.format("noop").mode("overwrite").save()
                    base = time.time() - t0
                    t0 = time.time()
                    qs[name](spark, scaled_dir) \
                        .write.format("noop").mode("overwrite").save()
                    big = time.time() - t0
                    qres[name] = {"sf0.1_sec": round(base, 2),
                                  "sf10_sec": round(big, 2),
                                  "growth_x": round(big / base, 1),
                                  "data_x": replicas}
                except Exception as e:  # record and keep going
                    qres[name] = {"error": repr(e)[:400]}
                    traceback.print_exc()
                print(json.dumps({"phase": "query", "q": name,
                                  **qres[name]}), flush=True)
                _flush()
            result["query_metrics"] = _spill_and_peak(_app_id())
        finally:
            spark.stop()

    _flush()
    print(json.dumps(result))


if __name__ == "__main__":
    main()
