#!/usr/bin/env python3
"""Local pre-flight of the driver's correctness gate.

Runs each oracle SQL from outDir/oracle_sql.json in DuckDB against the
same parquet tables, loads the Spark result parquet written by
graft.Verify, and compares (columns sorted by name, rows sorted by all
columns, exact equality — floats compared bit-exact, with a loose pass
reported separately so near-misses are visible).

Usage: python3 tools/check.py <sfDir> <outDir>
This is a dev tool only — the shipped Scala library does not use it.
"""
import json, math, sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name, sql in sorted(oracle.items()):
        try:
            exp = con.execute(sql).df()
            # Result TYPES matter, not just values: the driver's hash compare
            # is type-sensitive (DuckDB HUGEINT vs Spark BIGINT fails even
            # when every value matches — see ADVICE r1). Compare the DuckDB
            # result types against the Spark parquet schema types.
            exp_types = {
                r[0]: r[1]
                for r in con.execute(f"DESCRIBE {sql}").fetchall()}
        except Exception as e:
            print(f"FAIL {name}: oracle sql error: {e}")
            n_fail += 1
            continue
        try:
            got = con.execute(
                f"SELECT * FROM '{out_dir}/{name}/*.parquet'").df()
            got_types = {
                r[0]: r[1]
                for r in con.execute(
                    f"DESCRIBE SELECT * FROM '{out_dir}/{name}/*.parquet'"
                ).fetchall()}
        except Exception as e:
            print(f"FAIL {name}: spark output missing: {e}")
            n_fail += 1
            continue
        def tclass(t):
            # int width differences are normalized by the driver's compare;
            # HUGEINT / DECIMAL are not (they survive into the hash).
            if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT",
                     "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"):
                return "int"
            if t in ("FLOAT", "DOUBLE"):
                return "float"
            return t
        type_errs = [
            f"{c}: oracle={exp_types[c]} spark={got_types.get(c)}"
            for c in exp_types
            if tclass(exp_types[c]) != tclass(got_types.get(c, exp_types[c]))]
        if type_errs:
            print(f"FAIL {name}: result type mismatch: {type_errs}")
            n_fail += 1
            continue
        exp = exp.reindex(sorted(exp.columns), axis=1)
        got = got.reindex(sorted(got.columns), axis=1)
        if list(exp.columns) != list(got.columns):
            print(f"FAIL {name}: columns exp={list(exp.columns)} got={list(got.columns)}")
            n_fail += 1
            continue
        if len(exp) != len(got):
            print(f"FAIL {name}: rows exp={len(exp)} got={len(got)}")
            n_fail += 1
            continue
        exp = exp.sort_values(by=list(exp.columns), ignore_index=True)
        got = got.sort_values(by=list(got.columns), ignore_index=True)
        diffs = []
        for c in exp.columns:
            ev, gv = exp[c].tolist(), got[c].tolist()
            def isnull(x):
                # scalar nulls only: None, NaN, pandas NaT. Arrays (object
                # columns holding np arrays) are never null-equal here.
                if x is None:
                    return True
                try:
                    import pandas as pd
                    return not hasattr(x, "__len__") and bool(pd.isna(x))
                except (TypeError, ValueError):
                    return False
            for i, (a, b) in enumerate(zip(ev, gv)):
                if isnull(a) and isnull(b):
                    continue
                if isinstance(a, float) and isinstance(b, float):
                    if math.isnan(a) and math.isnan(b):
                        continue
                    if a != b:
                        close = math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
                        diffs.append((c, i, a, b, "CLOSE" if close else "FAR"))
                elif a != b:
                    diffs.append((c, i, a, b, "FAR"))
        if diffs:
            print(f"FAIL {name}: {len(diffs)} value diffs; first 5:")
            for d in diffs[:5]:
                print(f"   col={d[0]} row={d[1]} exp={d[2]!r} got={d[3]!r} [{d[4]}]")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(exp)} rows)")
            n_pass += 1
    # every registered query carries an oracle: a dumped result without
    # one is a failure, not a rows-only pass
    import os
    for d in sorted(os.listdir(out_dir)):
        if os.path.isdir(os.path.join(out_dir, d)) and d not in oracle:
            print(f"FAIL {d}: dumped with no oracle SQL")
            n_fail += 1
    print(f"== {n_pass} pass / {n_fail} fail ==")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
