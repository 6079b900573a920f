"""Output checks for query results: each result the JVM wrote (one parquet
directory per query) is compared with the query's oracle SQL run in DuckDB
on the same tables — columns matched by name, values in row order, exact.
A query without an oracle gets a rows-only check (non-empty). Each mismatch
is returned as a failed operation with the first line of its reason.
"""
import math
import os

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def _same(x, y):
    if isinstance(x, float) and isinstance(y, float) and math.isnan(x) and math.isnan(y):
        return True
    return x == y


def compare(got_cols, got_rows, want_cols, want_rows):
    """None when equal, else the first line of the reason."""
    if sorted(got_cols) != sorted(want_cols):
        return f"column mismatch: got {sorted(got_cols)}, oracle {sorted(want_cols)}"
    if len(got_rows) != len(want_rows):
        return f"row count mismatch: got {len(got_rows)}, oracle {len(want_rows)}"
    order = sorted(got_cols)
    gi = [got_cols.index(c) for c in order]
    wi = [want_cols.index(c) for c in order]
    for r, (g, w) in enumerate(zip(got_rows, want_rows)):
        for c, i, j in zip(order, gi, wi):
            if not _same(g[i], w[j]):
                return f"value mismatch at row {r} column {c}: got {g[i]!r}, oracle {w[j]!r}"
    return None


def check(checks, data):
    if not checks:
        return []
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(data, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    failures = []
    for c in checks:
        op, path, sql = c["op"], c["path"], c.get("oracle")
        try:
            if not os.path.isdir(path):
                failures.append({"op": op, "reason": "no result written"})
                continue
            got = con.sql(f"SELECT * FROM '{path}/*.parquet'")
            got_cols, got_rows = got.columns, got.fetchall()
            if sql is None:
                if not got_rows:
                    failures.append({"op": op, "reason": "rows-only check: empty result"})
                continue
            want = con.sql(sql)
            why = compare(got_cols, got_rows, want.columns, want.fetchall())
            if why:
                failures.append({"op": op, "reason": why})
        except Exception as e:  # an oracle error is a failed check, not a crash
            failures.append({"op": op, "reason": str(e).splitlines()[0][:300]})
    return failures
