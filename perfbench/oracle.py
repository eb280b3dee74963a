"""Compare dumped Spark results with DuckDB running each query's oracle SQL.

Usage: python3 oracle.py <input dir> <dump dir>

<dump dir> holds one parquet directory per query and `oracle_sql.json`
(query name -> SQL over the ten input tables). Each result is compared
row by row with DuckDB's, columns sorted by name, floats by bit pattern,
column types included. Prints `PASS <name>` or `FAIL <name>: <reason>`
per query.
"""
import datetime
import decimal
import glob
import json
import os
import struct
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def norm(v):
    if isinstance(v, datetime.datetime) and v.tzinfo is not None:
        return v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        return ("f64", struct.pack(">d", v))
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    return v


def compare(con, sql, files):
    want_rel = con.execute(sql)
    want_desc = want_rel.description
    want = want_rel.fetchall()
    got_rel = con.execute("SELECT * FROM read_parquet(?)", [files])
    got_desc = got_rel.description
    got = got_rel.fetchall()
    want_cols = [c[0] for c in want_desc]
    got_cols = [c[0] for c in got_desc]
    if sorted(want_cols) != sorted(got_cols):
        return f"columns want={sorted(want_cols)} got={sorted(got_cols)}"
    wt = {c[0]: str(c[1]) for c in want_desc}
    gt = {c[0]: str(c[1]) for c in got_desc}
    drift = [c for c in wt if wt[c] != gt[c]
             and {wt[c], gt[c]} != {"TIMESTAMP", "TIMESTAMP WITH TIME ZONE"}]
    if drift:
        return "type drift " + ", ".join(f"{c}: oracle={wt[c]} spark={gt[c]}" for c in drift)
    wi = [want_cols.index(c) for c in sorted(want_cols)]
    gi = [got_cols.index(c) for c in sorted(got_cols)]
    if len(want) != len(got):
        return f"rows want={len(want)} got={len(got)}"
    for i, (w, g) in enumerate(zip(want, got)):
        if tuple(norm(w[k]) for k in wi) != tuple(norm(g[k]) for k in gi):
            return f"row {i} differs"
    return None


def main(data, dump):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        p = os.path.join(data, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    with open(os.path.join(dump, "oracle_sql.json")) as f:
        oracles = json.load(f)
    for name in sorted(oracles):
        files = sorted(glob.glob(os.path.join(dump, name, "*.parquet")))
        if not files:
            print(f"FAIL {name}: no spark output")
            continue
        try:
            why = compare(con, oracles[name], files)
        except Exception as e:  # an oracle that cannot run is a failed check
            why = f"exec error {e}".replace("\n", " ")
        print(f"PASS {name}" if why is None else f"FAIL {name}: {why}")


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
