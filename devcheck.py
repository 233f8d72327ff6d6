#!/usr/bin/env python3
"""Dev harness mimicking the driver's correctness gate: run Verify output
against the DuckDB oracle and compare row counts, schemas and values.
Usage: python3 devcheck.py <sfdir> <outdir>
"""
import json
import os
import shutil
import sys
import tempfile

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def oracle_connection(spill_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection bounded to the host: memory capped at half of
    MemTotal, at most 4 threads (each thread holds its own operator
    buffers), and operators that can spill write under `spill_dir`. The
    settings bound memory only; query results do not change."""
    with open("/proc/meminfo") as f:
        kib = next(int(line.split()[1]) for line in f
                   if line.startswith("MemTotal:"))
    return duckdb.connect(config={
        "memory_limit": f"{kib // 2 // 1024}MB",
        "threads": min(4, os.cpu_count() or 1),
        "temp_directory": spill_dir,
    })


def main(sfdir: str, outdir: str) -> None:
    spill_dir = tempfile.mkdtemp(prefix="devcheck_duckdb_")
    try:
        check(sfdir, outdir, spill_dir)
    finally:
        shutil.rmtree(spill_dir, ignore_errors=True)


def check(sfdir: str, outdir: str, spill_dir: str) -> None:
    con = oracle_connection(spill_dir)
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")
    oracles = json.load(open(f"{outdir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name, sql in sorted(oracles.items()):
        try:
            got = pd.read_parquet(f"{outdir}/{name}")
        except Exception as e:
            print(f"FAIL {name}: no spark result ({e})")
            n_fail += 1
            continue
        try:
            want = con.execute(sql).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}")
            n_fail += 1
            continue
        if sorted(got.columns) != sorted(want.columns):
            print(f"FAIL {name}: cols spark={sorted(got.columns)} "
                  f"oracle={sorted(want.columns)}")
            n_fail += 1
            continue
        if len(got) != len(want):
            print(f"FAIL {name}: rows spark={len(got)} oracle={len(want)}")
            n_fail += 1
            continue
        g, w = norm(got), norm(want)
        try:
            same = g.astype(str).equals(w.astype(str))
        except Exception:
            same = False
        if same:
            print(f"PASS {name}: {len(got)} rows")
            n_pass += 1
        else:
            print(f"FAIL {name}: value mismatch")
            diff = (g.astype(str) != w.astype(str))
            bad = diff.any(axis=1)
            print("  spark:", g[bad].head(3).to_dict("records"))
            print("  oracle:", w[bad].head(3).to_dict("records"))
            n_fail += 1
    # rows-only check for queries without an oracle
    import glob
    import os
    for p in sorted(glob.glob(f"{outdir}/*")):
        name = os.path.basename(p)
        if name in oracles or not os.path.isdir(p):
            continue
        try:
            n = len(pd.read_parquet(p))
            print(f"{'PASS' if n > 0 else 'FAIL'} {name}: rows-only, {n} rows")
            if n > 0:
                n_pass += 1
            else:
                n_fail += 1
        except Exception as e:
            print(f"FAIL {name}: rows-only read error: {e}")
            n_fail += 1
    print(f"== {n_pass} pass / {n_fail} fail ==")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
