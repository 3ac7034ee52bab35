"""DuckDB oracle check for the benchmark's batch query outputs.

The canonical row form (columns sorted by name, values rendered with a
fixed float precision, rows sorted) is the one the repository's parity
gate uses, so a pass here means the same as a pass there.
"""
import math
import os

import duckdb

import workloads

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(v):
    if v is None:
        return "\x00NULL"
    if isinstance(v, bool):
        return "b:%d" % v
    if isinstance(v, float):
        return "f:nan" if math.isnan(v) else "f:%.10g" % v
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, bytes):
        return "y:" + v.hex()
    return "%s:%s" % (type(v).__name__[0], v)


def canonical_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    return sorted("|".join(canon(r[i]) for i in order) for r in rows)


def connect(data):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET enable_progress_bar = false")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"'{os.path.join(data, t + '.parquet')}'")
    return con


def compare(con, spark_dir, sql):
    """None when the Spark parquet output equals the oracle's rows, else
    a one-line reason."""
    s = con.sql(f"SELECT * FROM '{spark_dir}/*.parquet'")
    d = con.sql(sql)
    scols = [c.lower() for c in s.columns]
    dcols = [c.lower() for c in d.columns]
    if sorted(scols) != sorted(dcols):
        return f"columns differ: {sorted(scols)} vs {sorted(dcols)}"
    a, b = canonical_rows(scols, s.fetchall()), canonical_rows(dcols, d.fetchall())
    if len(a) != len(b):
        return f"{len(a)} rows vs oracle {len(b)}"
    if a != b:
        return "rows differ from the oracle"
    return None


def check(workload, data, out, result):
    """Map of operation key -> why its output is wrong."""
    sql = result["extra"].get("oracle_sql", {})
    wrong = {}
    if workload == "batch_suite":
        con = connect(data)
        for name in workloads.BATCH_QUERIES:
            where = os.path.join(out, "results", name)
            if name not in sql:
                wrong[name] = f"{name}: no oracle SQL"
            elif not os.path.isdir(where):
                wrong[name] = f"{name}: no output"
            else:
                try:
                    why = compare(con, where, sql[name])
                except duckdb.Error as e:
                    why = str(e).splitlines()[0]
                if why:
                    wrong[name] = f"{name}: {why}"
    return wrong
