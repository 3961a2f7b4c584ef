"""Output checks against DuckDB, by tools/check.py's rules: columns matched by
name, non-float columns exact in value and type, tolerance only where both
sides are float columns."""
import os
import sys
from collections import defaultdict

import duckdb

sys.path.insert(0, os.path.join(os.getcwd(), "tools"))
import check  # noqa: E402  (tools/check.py, the project's oracle rules)

LINEAGE = "_impression_id"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents"]


def connect(fixtures, views=None):
    """DuckDB connection with every fixture table as a view; `views` maps
    extra or replacement view names to lists of parquet files."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{fixtures}/{t}.parquet')")
    for name, files in (views or {}).items():
        src = f"read_parquet({sorted(files)!r})"
        cols = con.sql(f"SELECT * FROM {src} LIMIT 0").columns
        drop = f" EXCLUDE ({LINEAGE})" if LINEAGE in cols else ""
        con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT *{drop} FROM {src}")
    return con


def parquet_files(directory):
    return sorted(os.path.join(directory, f) for f in os.listdir(directory)
                  if f.endswith(".parquet"))


def compare(con, got_sql, want_sql):
    """None if the two relations hold the same rows, else a one-line reason."""
    got_rel = con.sql(got_sql)
    want_rel = con.sql(want_sql)
    got_cols = sorted(c for c in got_rel.columns if c != LINEAGE)
    want_cols = sorted(want_rel.columns)
    if [c.lower() for c in got_cols] != [c.lower() for c in want_cols]:
        return f"columns {got_cols} != {want_cols}"
    got_sel = got_rel.project(", ".join(got_cols))
    want_sel = want_rel.project(", ".join(want_cols))
    float_cols = set()
    for i, (gt, wt) in enumerate(zip(got_sel.types, want_sel.types)):
        if check.is_float_type(gt) and check.is_float_type(wt):
            float_cols.add(i)
        elif check.norm_type(gt) != check.norm_type(wt):
            return f"column {got_cols[i]} type {gt} != {wt}"
    got, want = got_sel.fetchall(), want_sel.fetchall()
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    got_g, want_g = defaultdict(list), defaultdict(list)
    for r in got:
        got_g[check.nonfloat_key(r, float_cols)].append(r)
    for r in want:
        want_g[check.nonfloat_key(r, float_cols)].append(r)

    def fkey(row):
        return [(0, float(row[i])) if row[i] is not None else (1, 0.0)
                for i in sorted(float_cols)]
    for key in set(got_g) | set(want_g):
        gs, ws = got_g.get(key, []), want_g.get(key, [])
        if len(gs) != len(ws):
            return f"row group {key!r}: {len(gs)} != {len(ws)}"
        for g, w in zip(sorted(gs, key=fkey), sorted(ws, key=fkey)):
            if not all(check.cell_ok(x, y, i in float_cols)
                       for i, (x, y) in enumerate(zip(g, w))):
                return f"row {g!r} != {w!r}"
    return None


def lineage_ok(con, files, impression):
    """None if every row of the step output carries `impression`."""
    bad = con.sql(f"SELECT count(*) FROM read_parquet({sorted(files)!r}) "
                  f"WHERE {LINEAGE} IS DISTINCT FROM '{impression}'").fetchone()[0]
    return None if bad == 0 else f"{bad} rows carry another {LINEAGE}"
