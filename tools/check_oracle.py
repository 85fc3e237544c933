#!/usr/bin/env python3
"""Local simulation of the driver's correctness gate: run oracle_sql.json
in DuckDB over the sf tables and compare against the engine's parquet
dumps (column-name-sorted, row-sorted, value-level)."""
import sys, json, glob, os
import duckdb
import pandas as pd


def normalized(df):
    """Columns sorted by name, rows sorted by value, index reset: the form
    in which two outputs of one gate are compared row for row."""
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def main(sfdir, outdir):
    con = duckdb.connect()
    for t in ["region","nation","customer","supplier","part","orders","lineitem",
              "events","documents","embeddings"]:
        p = f"{sfdir}/{t}.parquet"
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    oracle = json.load(open(f"{outdir}/oracle_sql.json"))
    fails = []
    for name, sql in sorted(oracle.items()):
        spark_dir = f"{outdir}/{name}"
        try:
            eng = con.sql(f"SELECT * FROM '{spark_dir}/*.parquet'").df()
        except Exception as e:
            fails.append((name, f"engine read fail: {e}")); continue
        try:
            ora = con.sql(sql).df()
        except Exception as e:
            fails.append((name, f"oracle SQL fail: {e}")); continue
        eng_s, ora_s = normalized(eng), normalized(ora)
        if list(eng_s.columns) != list(ora_s.columns):
            fails.append((name, f"cols {list(eng_s.columns)} vs {list(ora_s.columns)}")); continue
        if len(eng_s) != len(ora_s):
            fails.append((name, f"rows {len(eng_s)} vs {len(ora_s)}")); continue
        try:
            pd.testing.assert_frame_equal(eng_s, ora_s, check_dtype=False)
            print(f"OK    {name} ({len(eng)} rows)")
        except AssertionError as e:
            fails.append((name, str(e).split(chr(10))[0:3]))

    for name, msg in fails:
        print(f"FAIL  {name}: {msg}")
    print(f"\n{len(oracle)-len(fails)}/{len(oracle)} oracle checks pass; "
          f"{len([k for k in glob.glob(outdir+'/*') if os.path.isdir(k)])} outputs total")
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
