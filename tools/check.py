#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: read Verify's parquet
dumps, run each oracle SQL in DuckDB over the same fixture tables, and
compare (row count, column names, sorted values). Dev tool only — the
engine itself has no Python dependency."""
import json, sys, glob, os
import duckdb
import pandas as pd

sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"

con = duckdb.connect()
for p in glob.glob(f"{sf_dir}/*.parquet"):
    name = os.path.basename(p)[:-len(".parquet")]
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")

oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
ok, bad, rows_only = [], [], []
# A query that threw in Verify writes no dump: fail closed on it, or a
# lost query would pass unnoticed. Verify lists every name it attempted in
# attempted.txt, rows-only queries (no oracle entry) included.
attempted = set(oracle)
attempted_path = os.path.join(out_dir, "attempted.txt")
if os.path.exists(attempted_path):
    attempted |= {l.strip() for l in open(attempted_path) if l.strip()}
for name in sorted(attempted):
    if not os.path.isdir(os.path.join(out_dir, name)):
        bad.append((name, "no dump: the query failed in Verify or never ran"))
for name in sorted(os.listdir(out_dir)):
    d = os.path.join(out_dir, name)
    if not os.path.isdir(d):
        continue
    got = pd.read_parquet(d)
    if name not in oracle:
        rows_only.append((name, len(got)))
        continue
    try:
        want = con.execute(oracle[name]).df()
    except Exception as e:
        bad.append((name, f"oracle SQL failed: {e}"))
        continue
    def canon(df):
        df = df.reindex(sorted(df.columns), axis=1)
        for c in df.columns:
            if df[c].dtype == object and len(df) and isinstance(df[c].iloc[0], bytes):
                df[c] = df[c].map(lambda b: b.hex())
        return df.sort_values(by=list(df.columns)).reset_index(drop=True)
    g, w = canon(got), canon(want)
    # Driver parity: its hash is TYPED, so an uncast DuckDB HUGEINT (pandas
    # float64/object) vs Spark BIGINT (int64) must fail here too, even when
    # values match. Compare dtype KIND per column (int vs float vs other).
    def kind(d):
        return {"i": "int", "u": "int", "f": "float", "b": "bool"}.get(d.kind, "other")
    kind_diffs = [
        f"{c}: got {g[c].dtype}({kind(g[c].dtype)}) want {w[c].dtype}({kind(w[c].dtype)})"
        for c in g.columns if c in w.columns and kind(g[c].dtype) != kind(w[c].dtype)
    ] if list(g.columns) == list(w.columns) else []
    if list(g.columns) != list(w.columns):
        bad.append((name, f"columns differ: got {list(g.columns)} want {list(w.columns)}"))
    elif kind_diffs:
        bad.append((name, "dtype kind differs (driver typed-hash would fail): " + "; ".join(kind_diffs)))
    elif len(g) != len(w):
        bad.append((name, f"row count differs: got {len(g)} want {len(w)}"))
    else:
        try:
            pd.testing.assert_frame_equal(g, w, check_dtype=False, check_exact=True)
            ok.append(name)
        except AssertionError as e:
            bad.append((name, str(e).split("\n")[0] + " ... " + str(e).split("\n")[-1]))
for n in ok:
    print(f"  OK   {n}")
for n, c in rows_only:
    print(f"  ROWS {n} ({c} rows, no oracle)")
for n, e in bad:
    print(f"  FAIL {n}: {e[:500]}")
print(f"\n{len(ok)} ok, {len(rows_only)} rows-only, {len(bad)} fail")
sys.exit(1 if bad else 0)
