#!/usr/bin/env python3
"""Local replica of the driver's t2 DuckDB-oracle gate.

Usage: python3 tools/oracle_check.py <sfDir> <verifyOutDir>

For each query dumped by graft.Verify: run the oracle SQL in DuckDB
over the same parquet tables, then compare against the Spark result
parquet — columns sorted by name, rows sorted, values hashed. A query
named in oracle_sql.json with no dump directory (Verify logs a failed
query and writes nothing) is a MISSING failure. The last line reads
`ALL OK: N/M OK` or `F FAILURES: N/M OK`.
"""
import sys, json, glob, os
import duckdb
import pandas as pd
import hashlib

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df

def table_hash(df: pd.DataFrame) -> str:
    h = hashlib.sha256()
    for col in df.columns:
        h.update(col.encode())
        for v in df[col].tolist():
            h.update(repr(v).encode())
    return h.hexdigest()

def main(sf_dir: str, out_dir: str) -> int:
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    dumped = {n for n in os.listdir(out_dir) if os.path.isdir(os.path.join(out_dir, n))}
    names = sorted(dumped | set(oracle))
    failures = 0
    for name in names:
        d = os.path.join(out_dir, name)
        if name not in dumped:
            print(f"  {name}: MISSING (no dump directory)")
            failures += 1
            continue
        files = glob.glob(f"{d}/*.parquet")
        got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
        if name not in oracle:
            print(f"  {name}: rows-only check, {len(got)} rows "
                  + ("OK" if len(got) > 0 else "EMPTY!"))
            if len(got) == 0:
                failures += 1
            continue
        try:
            want = con.sql(oracle[name]).df()
        except Exception as e:
            print(f"  {name}: ORACLE SQL ERROR: {e}")
            failures += 1
            continue
        g, w = canon(got), canon(want)
        schema_ok = list(g.columns) == list(w.columns)
        dtypes_ok = list(map(str, g.dtypes)) == list(map(str, w.dtypes))
        rows_ok = len(g) == len(w)
        hash_ok = rows_ok and schema_ok and table_hash(g) == table_hash(w)
        status = "OK" if (schema_ok and rows_ok and hash_ok) else "FAIL"
        if status == "FAIL":
            failures += 1
            print(f"  {name}: FAIL schema={schema_ok} dtypes={dtypes_ok} "
                  f"rows={len(g)}vs{len(w)} hash={hash_ok}")
            if schema_ok and rows_ok:
                for c in g.columns:
                    if not g[c].equals(w[c]):
                        diff = (g[c] != w[c])
                        i = diff[diff].index[0] if diff.any() else None
                        print(f"    col {c} differs; first diff idx={i}: "
                              f"spark={g[c].iloc[i] if i is not None else '?'} "
                              f"duck={w[c].iloc[i] if i is not None else '?'}")
            else:
                print(f"    spark cols={list(g.columns)} types={list(map(str, g.dtypes))}")
                print(f"    duck  cols={list(w.columns)} types={list(map(str, w.dtypes))}")
        else:
            note = "" if dtypes_ok else f"  (dtype diff: {list(map(str, g.dtypes))} vs {list(map(str, w.dtypes))})"
            print(f"  {name}: OK ({len(g)} rows){note}")
    verdict = "ALL OK" if failures == 0 else f"{failures} FAILURES"
    print(f"{verdict}: {len(names) - failures}/{len(names)} OK")
    return 1 if failures else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
