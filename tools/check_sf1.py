#!/usr/bin/env python3
"""sf1 oracle gate (r13 verdict item 4; hardened r15): the driver's DuckDB
value gate tops out at sf0.1, so sf1 evidence was engine-only. This runs the
same compare as check.py over the ScaleData-built sf1 replica for whatever
subset graft.Verify dumped (query names after its two arguments) —
directory-style parquet, so
views glob part files. Names in oracle_sql.json without a dumped output dir
are SKIPPED (subset mode), not failed.

r15 hardening: each query runs in its OWN SUBPROCESS with a hard
kill-timeout (GRAFT_ORACLE_TIMEOUT_S, default 300 s). The first cut used
duckdb's in-process con.interrupt(), which cannot break every execution
phase — one sf1 oracle ran 45+ min past its 300 s budget. A killed child
records TIMEOUT (visible, excluded from fail count): those oracles remain
value-gated at sf0.01/sf0.1 by the driver. Re-runs RESUME: names already
carrying an OK/FAIL/TIMEOUT line in GRAFT_RESUME_LOG are skipped.

Usage: check_sf1.py <sfDir> <verifyOutDir>"""
import json, sys, glob, os
import multiprocessing as mp

sfdir, outdir = sys.argv[1], sys.argv[2]
BUDGET = float(os.environ.get("GRAFT_ORACLE_TIMEOUT_S", "300"))

TABLES = ["region","nation","customer","supplier","part","orders","lineitem",
          "events","documents","embeddings"]

def check_one(name, sql, q):
    """Child process: fresh connection, compare one query, put a result
    tuple (tag, message) on the queue."""
    import duckdb
    con = duckdb.connect()
    tmp = os.environ.get("GRAFT_DUCK_TMP", "/tmp/graft_duck_tmp")
    os.makedirs(tmp, exist_ok=True)
    con.execute(f"SET temp_directory='{tmp}'")
    con.execute("SET memory_limit='60GB'")
    con.execute("SET max_temp_directory_size='50GB'")
    con.execute("SET threads=16")
    for t in TABLES:
        p = f"{sfdir}/{t}.parquet"
        src = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    files = glob.glob(f"{outdir}/{name}/*.parquet")
    try:
        spark_df = con.execute(
            f"SELECT * FROM read_parquet({files!r})").fetchdf()
        duck_df = con.execute(sql).fetchdf()
    except Exception as e:
        q.put(("FAIL", f"{e}")); return
    sc, dc = sorted(spark_df.columns), sorted(duck_df.columns)
    if sc != dc:
        q.put(("FAIL", f"columns spark={sc} duck={dc}")); return
    s = spark_df[sc].sort_values(sc).reset_index(drop=True)
    dd = duck_df[dc].sort_values(dc).reset_index(drop=True)
    if len(s) != len(dd):
        q.put(("FAIL", f"rows spark={len(s)} duck={len(dd)}")); return
    if s.equals(dd):
        q.put(("OK", f"({len(s)} rows)")); return
    diff = (s != dd) & ~(s.isna() & dd.isna())
    bad = diff.any(axis=1)
    if bad.sum() == 0:
        dt = {c: (str(s[c].dtype), str(dd[c].dtype))
              for c in sc if str(s[c].dtype) != str(dd[c].dtype)}
        q.put(("FAIL", f"values equal but dtypes differ: {dt}")); return
    q.put(("FAIL",
           f"{bad.sum()} mismatched rows of {len(s)}\n"
           f"spark: {s[bad].head(3).to_dict('records')}\n"
           f"duck : {dd[bad].head(3).to_dict('records')}"))

if __name__ == "__main__":
    oracle = json.load(open(f"{outdir}/oracle_sql.json"))
    done = set()
    resume = os.environ.get("GRAFT_RESUME_LOG")
    if resume and os.path.exists(resume):
        for line in open(resume):
            parts = line.split()
            if len(parts) >= 2 and parts[0] in ("OK", "FAIL", "TIMEOUT"):
                done.add(parts[1].rstrip(":"))
        print(f"(resume: {len(done)} names already recorded in {resume})")
    ok = fail = skipped = timeout = resumed = 0
    for name in sorted(oracle):
        if name in done:
            resumed += 1; continue
        if not os.path.isdir(f"{outdir}/{name}"):
            skipped += 1; continue
        q = mp.Queue()
        proc = mp.Process(target=check_one, args=(name, oracle[name], q))
        proc.start()
        proc.join(BUDGET)
        if proc.is_alive():
            proc.terminate(); proc.join(10)
            if proc.is_alive():
                proc.kill(); proc.join()
            print(f"TIMEOUT {name}: exceeded {BUDGET:.0f}s (hard-killed), skipped",
                  flush=True)
            timeout += 1; continue
        if q.empty():
            print(f"FAIL {name}: child died without result "
                  f"(exit {proc.exitcode})", flush=True)
            fail += 1; continue
        tag, msg = q.get()
        print(f"{tag}   {name} {msg}" if tag == "OK" else f"{tag} {name}: {msg}",
              flush=True)
        if tag == "OK": ok += 1
        else: fail += 1
    print(f"\n{ok} ok, {fail} fail, {timeout} oracle-timeout, "
          f"{skipped} not dumped (subset mode), {resumed} resumed-from-log")
    sys.exit(1 if fail else 0)
