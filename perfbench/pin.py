#!/usr/bin/env python3
"""Pin the curation checks: python3 perfbench/pin.py

Runs each curation query once through the harness (perfbench.Pin), compares
every result that has a DuckDB oracle against that oracle on the same
tables (data/sf0.01), and writes data/curation_pins.tsv: one `query rows
hash oracle` line per query, where oracle is `match` or `none`. Refuses to
pin a query whose result disagrees with its oracle.
"""
import os
import subprocess
import sys

import duckdb
import pandas as pd

import run

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df):
    """Columns by name, floats rounded to 1e-6, rows sorted."""
    df = df.reindex(sorted(df.columns), axis=1)
    out = {}
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_float_dtype(s):
            out[c] = s.round(6)
        elif pd.api.types.is_datetime64_any_dtype(s):
            try:
                s = s.dt.tz_convert("UTC").dt.tz_localize(None)
            except TypeError:
                pass
            out[c] = s.astype("datetime64[us]").astype(str)
        else:
            out[c] = s.astype(str) if s.dtype == object else s
    df = pd.DataFrame(out)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def main():
    data = os.path.join(run.HERE, "data")
    out = os.path.join(run.HERE, "work", "pin")
    classpath = run.build()
    subprocess.run(["java", "-Xmx3g", "-XX:-UsePerfData"] + run.opens() + [
        "-Djava.io.tmpdir=" + os.path.join(run.HERE, "work"),
        "-cp", classpath, "perfbench.Pin", "--data", data, "--out", out],
        check=True, stdout=sys.stderr)
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        path = os.path.join(data, "sf0.01", t + ".parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    oracles = {}
    with open(os.path.join(out, "oracle_sql.tsv")) as f:
        for line in f:
            q, sql = line.rstrip("\n").split("\t", 1)
            oracles[q] = sql
    lines, bad = [], 0
    with open(os.path.join(out, "fingerprints.tsv")) as f:
        for line in f:
            q, rows, h = line.rstrip("\n").split("\t")
            verdict = "none"
            if q in oracles:
                got = canon(con.sql(f"SELECT * FROM read_parquet('{out}/{q}/*.parquet')").df())
                want = canon(con.sql(oracles[q]).df())
                same = list(got.columns) == list(want.columns) and got.equals(want)
                verdict = "match" if same else "MISMATCH"
            print(f"{q}: {rows} rows, hash {h}, oracle {verdict}")
            if verdict == "MISMATCH":
                bad += 1
            lines.append(f"{q}\t{rows}\t{h}\t{verdict}\n")
    if bad:
        raise SystemExit(f"{bad} result(s) disagree with their oracle; nothing pinned")
    with open(os.path.join(data, "curation_pins.tsv"), "w") as f:
        f.writelines(lines)


if __name__ == "__main__":
    main()
