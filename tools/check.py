#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB-oracle correctness gate.

Runs graft.Verify (already compiled classes) at a given SF dir, then
replays each oracle SQL in DuckDB over the same parquet tables and
compares: schema (sorted column names), row count, and value hash
(rows sorted, columns sorted by name, canonical string form).

Usage: python3 tools/check.py [sfdir] [outdir] [query ...]
"""
import json, os, subprocess, sys, math, hashlib

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUT = sys.argv[2] if len(sys.argv) > 2 else "/tmp/graft_verify"
ONLY = set(sys.argv[3:])

ADD_OPENS = []
for p in ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
          "java.net", "java.nio", "java.util", "java.util.concurrent",
          "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
          "sun.security.action", "sun.util.calendar"]:
    ADD_OPENS += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]


def run_verify():
    cp = f"/opt/spark/jars/*:{REPO}/target/scala-2.13/classes"
    cmd = ["java"] + ADD_OPENS + [
        "-Xmx8g", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, "graft.Verify", SF, OUT]
    env = dict(os.environ, SPARK_GRAFT_CPUS="8")
    r = subprocess.run(cmd, env=env, capture_output=True, text=True)
    for line in r.stderr.splitlines():
        if "[verify]" in line or "Exception" in line:
            print(line)
    if r.returncode != 0:
        print(r.stderr[-4000:])
        sys.exit(1)


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def table_hash(df):
    cols = sorted(df.columns)
    rows = [tuple(canon(r[c]) for c in cols) for _, r in df[cols].iterrows()]
    rows.sort()
    h = hashlib.sha256()
    for row in rows:
        h.update("\x1f".join(row).encode() + b"\x1e")
    return h.hexdigest(), len(rows), cols


def main():
    import duckdb
    import pandas as pd
    run_verify()
    oracle = json.load(open(f"{OUT}/oracle_sql.json"))
    errs = {}
    if os.path.exists(f"{OUT}/verify_errors.json"):
        errs = json.load(open(f"{OUT}/verify_errors.json"))
    con = duckdb.connect()
    # let large oracle queries (dedup_clusters) spill to disk instead of
    # failing at DuckDB's default memory limit on a small host; at four
    # threads dedup_clusters still runs out of pinned memory on a 15 GB
    # host, at two it finishes in ~25 s
    spill = f"{OUT.rstrip('/')}.duckdb_tmp"
    os.makedirs(spill, exist_ok=True)
    con.execute(f"SET temp_directory = '{spill}'")
    con.execute("SET preserve_insertion_order = false")
    con.execute("SET threads = 2")
    import glob
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    ok = fail = weak = 0
    for name, msg in sorted(errs.items()):
        if ONLY and name not in ONLY:
            continue
        fail += 1
        print(f"  [VERIFY-ERR] {name}: {msg}")
    names = sorted(os.listdir(OUT))
    for name in names:
        if name == "oracle_sql.json" or not os.path.isdir(f"{OUT}/{name}"):
            continue
        if ONLY and name not in ONLY:
            continue
        spark_df = con.execute(
            f"SELECT * FROM '{OUT}/{name}/*.parquet'").fetchdf()
        if name not in oracle:
            weak += 1
            print(f"  [rows-only] {name}: {len(spark_df)} rows")
            continue
        try:
            duck_df = con.execute(oracle[name]).fetchdf()
        except Exception as e:
            fail += 1
            print(f"  [ORACLE-ERR] {name}: {e}")
            continue
        sh, sn, sc = table_hash(spark_df)
        dh, dn, dc = table_hash(duck_df)
        if sc != dc:
            fail += 1
            print(f"  [SCHEMA] {name}: spark={sc} duck={dc}")
        elif sn != dn:
            fail += 1
            print(f"  [ROWS] {name}: spark={sn} duck={dn}")
        elif sh != dh:
            fail += 1
            print(f"  [HASH] {name}: {sn} rows; first diffs:")
            s = spark_df[sorted(spark_df.columns)]
            d = duck_df[sorted(duck_df.columns)]
            srows = sorted([tuple(canon(v) for v in r) for r in s.itertuples(index=False)])
            drows = sorted([tuple(canon(v) for v in r) for r in d.itertuples(index=False)])
            shown = 0
            for a, b in zip(srows, drows):
                if a != b:
                    print(f"    spark={a}\n    duck ={b}")
                    shown += 1
                    if shown >= 3:
                        break
        else:
            ok += 1
            print(f"  [ok] {name}: {sn} rows")
    print(f"== {ok} ok, {fail} fail, {weak} rows-only ==")
    sys.exit(1 if fail else 0)


if __name__ == "__main__":
    main()
