"""DuckDB oracle check for the registry workload.

Each oracle-backed query's Spark result (one parquet directory) is compared
with DuckDB running the query's `SparkEntry.oracleSql` over the same
generated parquet tables: columns sorted by name, rows in output order,
same dtype family per column, equal values (NULL matches NULL).
"""
import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _family(dt):
    s = str(dt)
    if "datetime" in s:
        return "datetime"
    if s.startswith(("int", "uint", "Int", "UInt")):
        return "int"
    if s.startswith(("float", "Float")):
        return "float"
    if s in ("bool", "boolean"):
        return "bool"
    return "obj"


def _diff(exp, got):
    """None when equal, else a one-line reason."""
    exp = exp[sorted(exp.columns)].reset_index(drop=True)
    got = got[sorted(got.columns)].reset_index(drop=True)
    if list(exp.columns) != list(got.columns):
        return f"columns {list(got.columns)} != {list(exp.columns)}"
    if len(exp) != len(got):
        return f"rows {len(got)} != {len(exp)}"
    for c in exp.columns:
        if "datetime" in str(exp[c].dtype) or "datetime" in str(got[c].dtype):
            exp[c], got[c] = pd.to_datetime(exp[c]), pd.to_datetime(got[c])
        if _family(exp[c].dtype) != _family(got[c].dtype):
            return f"column {c} dtype {got[c].dtype} != {exp[c].dtype}"
        ev, gv = exp[c], got[c]
        try:
            eq = (ev.astype(object).where(ev.notna(), None) ==
                  gv.astype(object).where(gv.notna(), None)) | (ev.isna() & gv.isna())
        except Exception:
            eq = ev.astype(str) == gv.astype(str)
        if not eq.all():
            i = int(eq.idxmin())
            return f"column {c} row {i}: oracle={ev.iloc[i]!r} spark={gv.iloc[i]!r}"
    return None


def compare(data_dir, items):
    """One check per item ({name, sql, dir}) as {name, ok, detail}."""
    con = duckdb.connect()
    con.execute("SET threads = 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    checks = []
    for it in items:
        try:
            reason = _diff(con.sql(it["sql"]).df(), pd.read_parquet(it["dir"]))
        except Exception as e:
            reason = f"error: {e}"
        checks.append({"name": f"oracle {it['name']}", "ok": reason is None,
                       "detail": reason or "match"})
    return checks
