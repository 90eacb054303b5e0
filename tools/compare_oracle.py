#!/usr/bin/env python3
"""Local replica of the DuckDB oracle correctness gate.

Usage: python3 tools/compare_oracle.py <sf_dir> <verify_out_dir>
Exits 1 if any query fails, including one with no output.
"""
import duckdb, json, sys, glob, os, shutil, tempfile

sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"

# The oracle connection may spill to a private temp dir and need not keep
# insertion order (every multi-row oracle ORDER BYs). That alone does not
# fit the heaviest oracle (q362's graph walk) in DuckDB's default memory
# limit on a 15 GB host: its footprint grows with the thread count (at
# sf0.01: out of memory at 3 threads and more, 12.9 GB peak at 2, 6.7 GB
# at 1, in about the same time), so the oracle runs on one thread. Spark
# outputs are read on a plain connection, in file order.
spill = tempfile.mkdtemp(prefix="compare_oracle_")
con = duckdb.connect(config={"temp_directory": spill, "preserve_insertion_order": False,
                             "threads": 1})
out_con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders","lineitem","events","documents","embeddings"]:
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
out_dirs = {n for n in os.listdir(out_dir) if os.path.isdir(os.path.join(out_dir, n))}
ok = fail = 0
# every oracle key is checked, so a query whose output is missing (it threw)
# counts as a failure instead of vanishing from the count
for name in sorted(set(oracle) | out_dirs):
    path = os.path.join(out_dir, name)
    # coalesce(1) outputs can still split at spark.sql.files.maxRecordsPerFile
    # (5M rows) — read ALL parts in write order, not just the first
    files = sorted(glob.glob(f"{path}/*.parquet"))
    if not files:
        print(f"MISSING-OUT {name}")
        fail += 1
        continue
    flist = "[" + ", ".join(f"'{f}'" for f in files) + "]"
    got = out_con.sql(f"SELECT * FROM read_parquet({flist})").fetchdf()
    if name not in oracle:
        print(f"ROWS-ONLY  {name}: rows={len(got)}" + ("  <-- EMPTY!" if len(got)==0 else ""))
        continue
    try:
        exp = con.sql(oracle[name]).fetchdf()
    except Exception as e:
        print(f"ORACLE-ERR {name}: {e}")
        fail += 1
        continue
    got_s = got[sorted(got.columns)]
    exp_s = exp[sorted(exp.columns)]
    if list(got_s.columns) != list(exp_s.columns):
        print(f"SCHEMA-DIFF {name}: spark={list(got_s.columns)} oracle={list(exp_s.columns)}")
        fail += 1
        continue
    if len(got_s) != len(exp_s):
        print(f"ROWS-DIFF  {name}: spark={len(got_s)} oracle={len(exp_s)}")
        fail += 1
        continue
    import pandas as pd
    # The driver hashes SERIALIZED values, so int64 9449 vs float64 9449.0
    # hash-differ even though pandas `==` calls them equal (the q74/q86 bug
    # class: DuckDB sum(int) -> HUGEINT -> float64). Flag dtype mismatch hard.
    dtype_diff = [(c, str(got_s[c].dtype), str(exp_s[c].dtype))
                  for c in got_s.columns
                  if str(got_s[c].dtype) != str(exp_s[c].dtype)]
    if dtype_diff:
        c, ad, bd = dtype_diff[0]
        print(f"DTYPE-DIFF {name}: col={c} spark={ad} oracle={bd}"
              f"  (driver hash gate WILL fail; CAST in the oracle)")
        fail += 1
        continue
    mismatch = None
    for c in got_s.columns:
        a, b = got_s[c], exp_s[c]
        try:
            eq = (a.fillna("__NULL__") == b.fillna("__NULL__")) if a.dtype == object else ((a == b) | (a.isna() & b.isna()))
        except Exception:
            eq = a.astype(str) == b.astype(str)
        if not eq.all():
            i = int((~eq).idxmax())
            mismatch = (c, i, a.iloc[i], b.iloc[i])
            break
    if mismatch:
        c, i, av, bv = mismatch
        print(f"VALUE-DIFF {name}: col={c} row={i} spark={av!r} oracle={bv!r}")
        fail += 1
    else:
        print(f"OK         {name}: rows={len(got_s)}")
        ok += 1
print(f"\n{ok} ok, {fail} failed, {len(out_dirs - set(oracle))} rows-only")
shutil.rmtree(spill, ignore_errors=True)
sys.exit(1 if fail else 0)
