"""Result checks against DuckDB oracles, with tools/check.py's
comparison (columns by name, rows as a sorted multiset, exact values,
DECIMAL outputs refused). Both sides are read through DuckDB, with
zoned timestamps projected to UTC wall time so the two engines'
spellings of one instant compare equal.
"""
import os
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "tools"))
import check  # noqa: E402  (tools/check.py)


def connect(data_dir):
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET threads = 4")
    for t in check.TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def frame(con, rel):
    """``rel`` as a pandas DataFrame, zoned timestamps as UTC wall time."""
    cols = con.execute(f"DESCRIBE {rel}").fetchall()
    proj = []
    for name, typ, *_ in cols:
        q = '"' + name.replace('"', '""') + '"'
        proj.append(f"CAST({q} AS TIMESTAMP) AS {q}"
                    if typ.startswith("TIMESTAMP WITH TIME ZONE") else q)
    return con.execute(f"SELECT {', '.join(proj)} FROM {rel}").df()


def compare(con, got_rel, want_rel, name=""):
    """Return a list of error strings; empty when the relations match."""
    return check.compare(name, frame(con, got_rel), frame(con, want_rel))


def check_outputs(data_dir, out_dir, oracle_sql, dirs=None):
    """Check each parquet result — ``dirs[name]`` when given, else
    ``out_dir/<name>`` — against its oracle SQL. Returns
    {name: [errors]} (an empty list means correct)."""
    con = connect(data_dir)
    verdicts = {}
    for name, sql in sorted(oracle_sql.items()):
        path = (dirs or {}).get(name) or os.path.join(out_dir, name)
        if not os.path.isdir(path):
            verdicts[name] = ["no result written"]
            continue
        try:
            con.execute(f"CREATE OR REPLACE TEMP VIEW got AS SELECT * FROM "
                        f"read_parquet('{path}/*.parquet')")
            con.execute(f"CREATE OR REPLACE TEMP VIEW want AS {sql}")
            verdicts[name] = compare(con, "got", "want", name)
        except duckdb.Error as e:
            verdicts[name] = [f"check error: {e}"[:300]]
    con.close()
    return verdicts
