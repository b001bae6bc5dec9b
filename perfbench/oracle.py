"""DuckDB oracle for the catalog workloads' outputs.

`expected()` runs each query's oracle SQL over the benchmark's tables and
keeps its columns, types and rows; `compare()` checks a result the
benchmark wrote as Parquet against it the way the project's correctness
gate does: sorted column names, no HUGEINT/BIGINT type drift, row count,
then every value exactly, rows sorted.
"""
import math
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def connect(data_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def _cell(v):
    if isinstance(v, float) and math.isnan(v):
        return None
    return v


def _rows(rel):
    cols = sorted(rel.columns)
    idx = [rel.columns.index(c) for c in cols]
    rows = [tuple(_cell(r[i]) for i in idx) for r in rel.fetchall()]
    rows.sort(key=lambda t: tuple((x is None, str(type(x)), x) for x in t))
    return cols, rows


def expected(con, sql):
    rel = con.sql(sql)
    types = {c: str(t) for c, t in zip(rel.columns, rel.types)}
    cols, rows = _rows(rel)
    return {"cols": cols, "types": types, "rows": rows}


def compare(con, result_dir, want):
    """None when the Parquet result under `result_dir` matches `want`,
    else a one-line description of the first difference."""
    files = os.path.join(result_dir, "*.parquet")
    rel = con.sql(f"SELECT * FROM read_parquet('{files}')")
    types = {c: str(t) for c, t in zip(rel.columns, rel.types)}
    nonscalar = [c for c, t in types.items()
                 if "[]" in t or t.startswith(("STRUCT", "MAP"))]
    if nonscalar:
        return f"non-scalar output columns {nonscalar}"
    cols, rows = _rows(rel)
    if cols != want["cols"]:
        return f"columns {cols} != {want['cols']}"
    drift = [(c, types[c], want["types"][c]) for c in cols
             if types[c] != want["types"][c]
             and "HUGEINT" in types[c] + want["types"][c]]
    if drift:
        return f"type mismatch (result vs oracle) {drift}"
    if len(rows) != len(want["rows"]):
        return f"rows {len(rows)} != {len(want['rows'])}"
    for i, (a, b) in enumerate(zip(rows, want["rows"])):
        if a != b:
            return f"value diff at sorted row {i}: result={a!r} oracle={b!r}"[:400]
    return None
