#!/usr/bin/env python3
"""Mirror of the driver's oracle check: run graft.Verify first, then this.

Usage: python3 tools/oracle_check.py <verify_out_dir> <sf_dir>

For each query in <verify_out_dir>/oracle_sql.json, runs the SQL in DuckDB
over the parquet tables of <sf_dir> and compares with the Spark result
parquet using the driver's canon: sort columns by name, cast to str,
sort rows, md5. Queries without oracle SQL report rows-only. An oracle key
without a Spark output directory (its gate failed) is a failure, and so is
every gate named in <verify_out_dir>/failed_gates.txt (gates that threw,
rows-only ones included).
"""
import json
import sys
import hashlib
import duckdb
import pandas as pd
from pathlib import Path

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> str:
    df = df.reindex(sorted(df.columns), axis=1).astype(str)
    rows = sorted(map(tuple, df.values.tolist()))
    h = hashlib.md5()
    for r in rows:
        h.update("\x1f".join(r).encode())
        h.update(b"\x1e")
    return h.hexdigest()


def main(out_dir: str, sf_dir: str) -> int:
    out = Path(out_dir)
    oracle_sql = json.loads((out / "oracle_sql.json").read_text())
    con = duckdb.connect()
    for t in TABLES:
        p = Path(sf_dir) / f"{t}.parquet"
        if p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    results = {}
    for qdir in sorted(out.iterdir()):
        if not qdir.is_dir() or not qdir.name.startswith("q"):
            continue
        name = qdir.name
        spark_df = pd.read_parquet(qdir)
        if name not in oracle_sql:
            results[name] = {"err": "no_oracle", "spark_rows": len(spark_df)}
            continue
        try:
            odf = con.execute(oracle_sql[name]).fetchdf()
        except Exception as e:  # noqa: BLE001
            results[name] = {"err": f"oracle_error: {e}"}
            continue
        rows_match = len(spark_df) == len(odf)
        schema_match = sorted(spark_df.columns) == sorted(odf.columns)
        hash_match = canon(spark_df) == canon(odf) if schema_match else False
        results[name] = {"rows_match": rows_match, "schema_match": schema_match,
                         "hash_match": hash_match, "spark_rows": len(spark_df),
                         "oracle_rows": len(odf)}
    for name in sorted(set(oracle_sql) - set(results)):
        results[name] = {"err": "no_output"}
    failed_file = out / "failed_gates.txt"
    for name in failed_file.read_text().split() if failed_file.exists() else []:
        results[name] = {"err": "gate_failed"}
    green = sum(1 for v in results.values() if v.get("hash_match"))
    rows_only = sum(1 for v in results.values() if v.get("err") == "no_oracle")
    fails = len(results) - green - rows_only
    for name, v in sorted(results.items()):
        status = ("PASS" if v.get("hash_match") else
                  "rows-only" if v.get("err") == "no_oracle" else
                  "FAIL (no Spark output)" if v.get("err") == "no_output" else
                  "FAIL (gate threw)" if v.get("err") == "gate_failed" else f"FAIL {v}")
        print(f"{name}: {status}")
    print(f"\n{green} green / {rows_only} rows-only / {fails} FAILED "
          f"of {len(results)}")
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
