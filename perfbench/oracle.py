"""Output check: each query's Spark result against its `SparkEntry.oracleSql`
row, evaluated by DuckDB over the same input files (the comparison of
tools/local_verify.py: columns sorted by name, rows sorted, values equal)."""
import glob
import json
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def compare(con, spark_dir, oracle_sql):
    """Returns None when the Spark output equals the oracle's, else the reason."""
    if not glob.glob(os.path.join(spark_dir, "*.parquet")):
        return "no Spark output"
    sdf = con.execute(f"SELECT * FROM '{spark_dir}/*.parquet'").fetchdf()
    try:
        odf = con.execute(oracle_sql).fetchdf()
    except Exception as e:  # noqa: BLE001 - reported as the mismatch reason
        return f"oracle SQL error: {e}"
    if sorted(sdf.columns) != sorted(odf.columns):
        return f"schema spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}"
    cols = sorted(sdf.columns)
    s = sdf[cols].sort_values(cols).reset_index(drop=True)
    o = odf[cols].sort_values(cols).reset_index(drop=True)
    if len(s) != len(o):
        return f"row count spark={len(s)} oracle={len(o)}"
    for c in cols:
        sv, ov = s[c], o[c]
        if str(sv.dtype) != str(ov.dtype):
            try:
                sv = sv.astype(ov.dtype)
            except Exception:  # noqa: BLE001
                return f"dtype {c}: {sv.dtype} vs {ov.dtype}"
        neq = sv.ne(ov) & ~(sv.isna() & ov.isna())
        if neq.any():
            i = neq.idxmax()
            return f"value {c} row {i}: spark={s[c][i]!r} oracle={o[c][i]!r}"
    return None


def check(data_dir, check_dir, queries, spark_errors):
    """Maps every query that failed the check to its reason."""
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    with open(os.path.join(check_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    failures = {}
    for q in queries:
        if q in spark_errors:
            failures[q] = f"threw: {spark_errors[q]}"
        elif q not in oracle:
            failures[q] = "no oracle row"
        else:
            reason = compare(con, os.path.join(check_dir, q), oracle[q])
            if reason is not None:
                failures[q] = reason
    con.close()
    return failures
