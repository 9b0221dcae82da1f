#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate.

Runs each oracle SQL from <outDir>/oracle_sql.json in DuckDB against the
sf parquet tables, loads the Spark result parquet from <outDir>/<name>/,
sorts columns by name and rows by all columns, and compares values.

Usage: python3 tools/check.py <sfDir> <outDir>
"""
import sys, json, glob, math, os, time
import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # Nested cells (arrays/lists) crash the driver's row-sort
    # canonicalizer with "unhashable type" — fail the same way here,
    # loudly, so a nested gate output never passes locally (r8 #2).
    for c in df.columns:
        if df[c].dtype == object and len(df) > 0:
            v = df[c].dropna()
            if len(v) > 0 and isinstance(v.iloc[0], (list, tuple, dict,
                                                     np.ndarray)):
                raise TypeError(
                    f"column {c} holds array values — gate outputs must be "
                    "flat primitives (driver canonicalizer cannot sort them)")
    # canonicalize dtypes for compare
    for c in df.columns:
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df

def compare(a: pd.DataFrame, b: pd.DataFrame) -> str:
    if list(a.columns) != list(b.columns):
        return f"SCHEMA {list(a.columns)} vs {list(b.columns)}"
    if len(a) != len(b):
        return f"ROWS {len(a)} vs {len(b)}"
    for c in a.columns:
        av, bv = a[c], b[c]
        # The driver's hash is dtype-sensitive: int64 0 != float64 0.0.
        # The r8 shard-oracle bug (DuckDB HUGEINT -> pandas float64)
        # passed here because the float branch compares numerically —
        # fail a one-sided int/float pairing outright so local green
        # predicts driver green.
        a_int = pd.api.types.is_integer_dtype(av)
        b_int = pd.api.types.is_integer_dtype(bv)
        a_flt = pd.api.types.is_float_dtype(av)
        b_flt = pd.api.types.is_float_dtype(bv)
        if (a_int and b_flt) or (a_flt and b_int):
            return (f"DTYPE col={c}: spark {av.dtype} vs oracle {bv.dtype} "
                    "(driver hash is dtype-sensitive — CAST the oracle)")
        if pd.api.types.is_float_dtype(av) or pd.api.types.is_float_dtype(bv):
            ok = ((av.isna() & bv.isna()) | (av == bv)).all()
            if not ok:
                bad = (~((av.isna() & bv.isna()) | (av == bv))).idxmax()
                return f"VAL col={c} row={bad}: {av[bad]!r} vs {bv[bad]!r}"
        else:
            if not av.astype(str).equals(bv.astype(str)):
                neq = (av.astype(str) != bv.astype(str)).idxmax()
                return f"VAL col={c} row={neq}: {av[neq]!r} vs {bv[neq]!r}"
    return "OK"

def main(sf_dir, out_dir):
    # Failure-loud (VERDICT r6 item 3): a Verify run that never happened
    # or died mid-flight must not read as a quiet zero-query pass.
    try:
        mf = json.load(open(f"{out_dir}/manifest.json"))
        print(f"manifest: attempted={mf['attempted']} succeeded={mf['succeeded']} "
              f"failed={mf['failed']} {mf.get('failed_queries', [])}")
        if mf["attempted"] == 0:
            print("FATAL: manifest says 0 queries attempted"); return 1
        # oracles that pin values measured on the sf0.01 gate fixture:
        # at any other scale they would report a spurious mismatch
        if "pinned_sf001" not in mf:
            print("FATAL: manifest.json has no pinned_sf001 — a dump older "
                  "than the registry's roles; re-run Verify"); return 1
        pinned = set(mf["pinned_sf001"])
    except FileNotFoundError:
        print("FATAL: no manifest.json — Verify did not complete"); return 1
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_ok = n_bad = n_skip = 0
    total_oracle_sec = 0.0
    slowest = []
    on_gate_fixture = os.path.basename(os.path.normpath(sf_dir)) == "sf0.01"
    for name in sorted(oracles):
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            print(f"{name:28s} MISSING spark output"); n_bad += 1; continue
        if name in pinned and not on_gate_fixture:
            # counted as SKIPPED, not ok: an off-fixture sweep must not
            # report pinned-oracle queries as verified when they never ran
            print(f"{name:28s} SKIP — oracle pins sf0.01 fixture values; "
                  f"re-run against sf0.01 for a real verdict")
            n_skip += 1; continue
        t0 = time.monotonic()
        try:
            spark_df = pd.concat([pd.read_parquet(f) for f in sorted(files)])
            duck_df = con.execute(oracles[name]).df()
            r = compare(normalize(spark_df), normalize(duck_df))
        except Exception as e:
            r = f"ERROR {e}"
        sec = time.monotonic() - t0
        total_oracle_sec += sec
        slowest.append((sec, name))
        status = "OK" if r == "OK" else r
        print(f"{name:28s} {sec:7.2f}s {status}")
        if r == "OK": n_ok += 1
        else: n_bad += 1
    # rows-only checks for queries without oracle
    for d in sorted(glob.glob(f"{out_dir}/*/")):
        name = d.rstrip("/").split("/")[-1]
        if name in oracles: continue
        files = glob.glob(f"{d}/*.parquet")
        if not files:
            print(f"{name:28s} MISSING (rows-only)"); n_bad += 1; continue
        n = sum(len(pd.read_parquet(f)) for f in files)
        print(f"{name:28s} rows-only: {n} rows {'OK' if n > 0 else 'EMPTY'}")
        if n > 0: n_ok += 1
        else: n_bad += 1
    # Gate-cost visibility (VERDICT r7 item 3): the driver's correctness
    # window expired twice because the DuckDB side silently grew past
    # ~10 min. Surface total + top offenders so a cost regression fails
    # loudly in-repo before the driver ever sees it.
    top = ", ".join(f"{n}={s:.1f}s" for s, n in sorted(slowest, reverse=True)[:5])
    print(f"\ntotal_oracle_sec={total_oracle_sec:.1f}  slowest: {top}")
    if total_oracle_sec > 180:
        print(f"WARNING: oracle gate {total_oracle_sec:.0f}s exceeds the "
              "180s budget — the driver's correctness window may expire")
    print(f"\n{n_ok} ok, {n_skip} skipped, {n_bad} bad")
    return 1 if n_bad else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
