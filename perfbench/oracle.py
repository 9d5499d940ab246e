"""Output checks against DuckDB.

``compare`` runs a query's oracle SQL (``SparkEntry.oracleSql``) in DuckDB
over the same generated tables and compares it with the Spark result dump,
with the table list, value normalisation and type tokens of
tools/check_oracle.py: columns in name order, type parity, then the sorted
multiset of rows. It returns the reason for a mismatch instead of printing
it, so each query's verdict can be attached to its op.
"""
import glob
import os
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

from check_oracle import TABLES, norm, type_token  # noqa: E402


def connect(tables_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        p = os.path.join(tables_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def rows_of(rel, cols):
    return sorted(repr(tuple(norm(v) for v in r))
                  for r in rel.select(", ".join(f'"{c}"' for c in cols)).fetchall())


def compare(con, dump_dir, sql):
    """None when the dump equals the oracle's result, else why not."""
    if not glob.glob(os.path.join(dump_dir, "*.parquet")):
        return "no spark output"
    got = con.sql(f"SELECT * FROM '{dump_dir}/*.parquet'")
    want = con.sql(sql)
    gcols, wcols = sorted(got.columns), sorted(want.columns)
    if [c.lower() for c in gcols] != [c.lower() for c in wcols]:
        return f"columns {gcols} vs {wcols}"
    gtypes = {c.lower(): str(t) for c, t in zip(got.columns, got.types)}
    wtypes = {c.lower(): str(t) for c, t in zip(want.columns, want.types)}
    skew = [(c, gtypes[c], wtypes[c]) for c in gtypes
            if type_token(gtypes[c]) != type_token(wtypes[c])]
    if skew:
        return f"type skew {skew}"
    g, w = rows_of(got, gcols), rows_of(want, wcols)
    if len(g) != len(w):
        return f"rows {len(g)} vs {len(w)}"
    if g != w:
        return f"value mismatch, first: {next((a, b) for a, b in zip(g, w) if a != b)}"
    return None
