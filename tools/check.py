#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: run each oracle SQL in
DuckDB over the same parquet tables and diff against the Spark results that
graft.Verify dumped. Usage: check.py <sfDir> <verifyOutDir>

Each OK line ends with the oracle's DuckDB seconds; the output ends with the
five slowest oracles."""
import json, sys, glob, os, time
import duckdb

sfdir, outdir = sys.argv[1], sys.argv[2]
con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders","lineitem",
          "events","documents","embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")

oracle = json.load(open(f"{outdir}/oracle_sql.json"))
ok = fail = 0
secs = {}
for name in sorted(oracle):
    d = f"{outdir}/{name}"
    if not os.path.isdir(d):
        print(f"FAIL {name}: no spark output dir"); fail += 1; continue
    files = glob.glob(f"{d}/*.parquet")
    try:
        spark_df = con.execute(
            f"SELECT * FROM read_parquet({files!r})").fetchdf()
        t = time.perf_counter()
        duck_df = con.execute(oracle[name]).fetchdf()
        secs[name] = time.perf_counter() - t
    except Exception as e:
        print(f"FAIL {name}: {e}"); fail += 1; continue
    sc, dc = sorted(spark_df.columns), sorted(duck_df.columns)
    if sc != dc:
        print(f"FAIL {name}: columns spark={sc} duck={dc}"); fail += 1; continue
    s = spark_df[sc].sort_values(sc).reset_index(drop=True)
    dd = duck_df[dc].sort_values(dc).reset_index(drop=True)
    if len(s) != len(dd):
        print(f"FAIL {name}: rows spark={len(s)} duck={len(dd)}"); fail += 1; continue
    if s.equals(dd):
        print(f"OK   {name} ({len(s)} rows) {secs[name]:.2f} s"); ok += 1
    else:
        diff = (s != dd) & ~(s.isna() & dd.isna())
        bad = diff.any(axis=1)
        if bad.sum() == 0:
            dt = {c: (str(s[c].dtype), str(dd[c].dtype))
                  for c in sc if str(s[c].dtype) != str(dd[c].dtype)}
            print(f"FAIL {name}: values equal but dtypes differ: {dt}")
            fail += 1
            continue
        print(f"FAIL {name}: {bad.sum()} mismatched rows of {len(s)}")
        print("spark:", s[bad].head(3).to_dict("records"))
        print("duck :", dd[bad].head(3).to_dict("records"))
        fail += 1
print(f"\n{ok} ok, {fail} fail")
slowest = sorted(secs.items(), key=lambda kv: -kv[1])[:5]
print("slowest oracles: " + ", ".join(f"{n} {t:.2f} s" for n, t in slowest))
sys.exit(1 if fail else 0)
