"""DuckDB oracle comparison for the suite workload: each query's Spark
result against the query's oracle SQL over the same generated tables.
Exact equality of column names and of every value, rows order-free."""
import math
import os

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _canon(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return repr(v)


def _fingerprint(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return ([cols[i] for i in order],
            sorted("|".join(_canon(r[i]) for i in order) for r in rows))


def check(tables_dir, results_dir, oracle_sql):
    """Returns {query: None if equal else a one-line reason}."""
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet/*.parquet'")
    verdict = {}
    for name, sql in sorted(oracle_sql.items()):
        try:
            got = con.sql(f"SELECT * FROM '{os.path.join(results_dir, name)}/*.parquet'")
            gc, gr = _fingerprint(list(got.columns), got.fetchall())
            want = con.sql(sql)
            wc, wr = _fingerprint(list(want.columns), want.fetchall())
        except Exception as e:  # an unreadable result or a failing oracle
            verdict[name] = f"error: {e}".splitlines()[0]
            continue
        if gc != wc:
            verdict[name] = f"columns {gc} != {wc}"
        elif gr != wr:
            verdict[name] = f"rows differ ({len(gr)} vs {len(wr)} rows)"
        else:
            verdict[name] = None
    return verdict
