#!/usr/bin/env python3
"""Record the expected result fingerprints of the query workload.

    python3 perfbench/record.py

Runs query_mix once on the benchmark's sf0.1 tables with no expected
fingerprints and keeps the fingerprints its output check computed. Then
dumps the same queries with the engine's own correctness job
(`graft.Verify <sfDir> <outDir> <names>`, which also writes the DuckDB
oracle SQL of every query) and checks each query that has an oracle
against DuckDB on the same tables. The fingerprints land in
perfbench/expected/fingerprints.json and the oracle verdicts in
perfbench/expected/oracle_check.json. Exits non-zero, and records
nothing, if any oracle check fails.
"""
import glob
import json
import math
import os
import shutil
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]
LIMIT_S = 1800


def canon(df):
    """Columns by name, values as text with floats at ten significant
    digits, rows sorted: an order- and type-insensitive form."""
    df = df.reindex(sorted(df.columns), axis=1)
    out = pd.DataFrame(index=df.index)
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            s = s.dt.tz_localize(None) if getattr(s.dt, "tz", None) is not None else s
            out[c] = s.astype("datetime64[us]").astype(str)
        elif pd.api.types.is_float_dtype(s):
            out[c] = s.map(lambda v: None if v is None or math.isnan(v) else f"{float(v):.9e}")
        else:
            out[c] = s.map(lambda v: None if v is None or (isinstance(v, float) and math.isnan(v))
                           else (f"{float(v):.9e}" if isinstance(v, float) else str(v)))
    return out.sort_values(by=list(out.columns), kind="mergesort").reset_index(drop=True)


def fingerprints(classpath, work):
    """The fingerprints a plain query_mix run computes in its output check."""
    out = os.path.join(work, "result.json")
    args = ["--workload", "query_mix", "--seed", "1", "--seconds", "1", "--trace", "0",
            "--data", run.DATA, "--work", work, "--out", out,
            "--expected", os.path.join(work, "none.json"), "--tiny", "0"]
    if run.launch(classpath, args, work, LIMIT_S) != 0:
        run.fail("query_mix run failed")
    with open(out) as fh:
        return json.load(fh)["conditions"]["fingerprints"]


def main():
    classpath, _ = run.build()
    work = os.path.join(run.BUILD, "record")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    fps = fingerprints(classpath, work)
    dump = os.path.join(work, "verify")
    if run.launch(classpath, [run.DATA, dump, ",".join(sorted(fps))], work, LIMIT_S,
                  main="graft.Verify") != 0:
        run.fail("graft.Verify failed")
    with open(os.path.join(dump, "oracle_sql.json")) as fh:
        oracle = json.load(fh)

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{run.DATA}/{t}.parquet'")
    verdicts, bad = {}, []
    for name in sorted(fps):
        if name not in oracle:
            verdicts[name] = "no oracle"
            continue
        files = glob.glob(os.path.join(dump, name, "*.parquet"))
        spark_df = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
        a, b = canon(spark_df), canon(con.sql(oracle[name]).df())
        ok = list(a.columns) == list(b.columns) and len(a) == len(b) and a.equals(b)
        verdicts[name] = f"pass ({len(a)} rows)" if ok else "FAIL"
        if not ok:
            bad.append(name)
        print(f"{verdicts[name]:>16}  {name}", file=sys.stderr)
    if bad:
        run.fail(f"oracle mismatch: {', '.join(bad)}", 1)
    out = os.path.join(run.BENCH, "expected")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, "fingerprints.json"), "w") as fh:
        json.dump(fps, fh, indent=1, sort_keys=True)
    with open(os.path.join(out, "oracle_check.json"), "w") as fh:
        json.dump(verdicts, fh, indent=1, sort_keys=True)
    shutil.rmtree(work, ignore_errors=True)
    print(f"recorded {len(fps)} fingerprints; "
          f"{sum(n in oracle for n in fps)} checked against DuckDB")


if __name__ == "__main__":
    main()
