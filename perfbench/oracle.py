"""DuckDB oracle check for the rows the timed query passes collected.

The comparison follows scripts/selfcheck.py: columns sorted by name, rows
sorted by every column, equal column names and row counts, floats equal
exactly (NaN equals NaN), nulls equal nulls, every other cell equal as
str(). Values are compared as Python objects decoded from the JVM's
row JSON, not through pandas frames.
"""
import datetime
import decimal
import math
import os

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
EPOCH = datetime.datetime(1970, 1, 1)


def decode(v, t):
    """A JSON-decoded Spark value as the Python value DuckDB would return."""
    if v is None:
        return None
    if isinstance(t, dict):
        kind = t["type"]
        if kind == "array":
            return [decode(x, t["elementType"]) for x in v]
        if kind == "struct":
            return {f["name"]: decode(x, f["type"]) for f, x in zip(t["fields"], v)}
        if kind == "map":
            return {decode(k, t["keyType"]): decode(x, t["valueType"]) for k, x in v}
        return v
    if t.startswith("decimal"):
        return decimal.Decimal(v)
    if t == "date":
        return datetime.date.fromisoformat(v)
    if t == "timestamp":
        return EPOCH + datetime.timedelta(microseconds=v)
    if t == "timestamp_ntz":
        return datetime.datetime.fromisoformat(v)
    if t == "binary":
        return bytes.fromhex(v)
    return v


def sort_key(v):
    if v is None:
        return (0,)
    if isinstance(v, bool):
        return (1, int(v))
    if isinstance(v, float):
        return (2, 1, 0) if math.isnan(v) else (2, 0, v)
    if isinstance(v, (int, decimal.Decimal)):
        return (2, 0, v)
    if isinstance(v, (list, tuple)):
        return (3, tuple(sort_key(x) for x in v))
    if isinstance(v, dict):
        return (4, tuple(sorted((str(k), sort_key(x)) for k, x in v.items())))
    return (5, str(v))


def canon(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    cols = [columns[i] for i in order]
    rs = [[r[i] for i in order] for r in rows]
    rs.sort(key=lambda r: tuple(sort_key(x) for x in r))
    return cols, rs


def cells_equal(a, b):
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b
    return str(a) == str(b)


def compare(got_cols, got_rows, want_cols, want_rows):
    """None when equal, else the first difference."""
    gc, gr = canon(got_cols, got_rows)
    wc, wr = canon(want_cols, want_rows)
    if gc != wc:
        return f"columns {gc} != {wc}"
    if len(gr) != len(wr):
        return f"rows {len(gr)} != {len(wr)}"
    for i, (g, w) in enumerate(zip(gr, wr)):
        for c, x, y in zip(gc, g, w):
            if not cells_equal(x, y):
                return f"row {i} col {c}: spark={x!r} duck={y!r}"
    return None


def check(results, sf_dir):
    """Check each query's rows against its oracle SQL.

    `results` maps query name to {executions, failed, oracle, schema, rows}.
    Returns {name: (executions, executions already failed, reason)} for
    every query whose rows disagree with the oracle.
    """
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    bad = {}
    for name, r in results.items():
        if r["oracle"] is None or r["rows"] is None:
            continue
        fields = r["schema"]["fields"]
        got_cols = [f["name"] for f in fields]
        got = [[decode(v, f["type"]) for v, f in zip(row, fields)] for row in r["rows"]]
        try:
            rel = con.sql(r["oracle"])
            diff = compare(got_cols, got, list(rel.columns), rel.fetchall())
        except Exception as e:  # an oracle that cannot run is a failed check
            diff = f"oracle sql error: {e}"
        if diff:
            bad[name] = (r["executions"], r["failed"], diff)
    return bad
