"""DuckDB oracle check of batch_mix answers.

Each lane's first answer of a run is dumped as parquet by the runner; it
is compared here with the lane's oracle SQL (SparkEntry.oracleSql) run in
DuckDB over the same generated tables, with the comparison rules of the
repository's correctness gate (tools/check.py): same column names, no
HUGEINT/DECIMAL oracle column against a plain int/float answer column,
and equal rows in order, floats compared by their repr. Later answers of
the lane are compared with the first inside the runner.
"""
import glob
import os
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
from check import canon, type_parity_errors  # noqa: E402


def compare(con, answer_dir, sql):
    sdf = con.sql(f"SELECT * FROM read_parquet('{answer_dir}/*.parquet')")
    odf = con.sql(sql)
    scols, ocols = sorted(sdf.columns), sorted(odf.columns)
    if scols != ocols:
        return f"columns {scols} != oracle {ocols}"
    errs = type_parity_errors(sdf, odf, scols)
    if errs:
        return "; ".join(errs)
    sel = ", ".join(f'"{c}"' for c in scols)
    srows = canon(sdf.select(sel).fetchall())
    orows = canon(odf.select(sel).fetchall())
    if len(srows) != len(orows):
        return f"rows {len(srows)} != oracle {len(orows)}"
    bad = [i for i, (x, y) in enumerate(zip(srows, orows)) if x != y]
    if bad:
        i = bad[0]
        return f"{len(bad)}/{len(srows)} rows differ; first {srows[i]} != {orows[i]}"
    return ""


def check_lanes(oracle_sql, data_dir, answers, lanes):
    """{lane: error} for every lane in `lanes` whose answer is wrong or
    has no oracle; lanes that never produced an answer are skipped."""
    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count() or 1}")
    for d in sorted(glob.glob(f"{data_dir}/*.parquet")):
        t = os.path.basename(d)[:-len(".parquet")]
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d}/*.parquet')")
    errors = {}
    for lane in sorted(lanes):
        if not glob.glob(f"{answers}/{lane}/*.parquet"):
            continue
        if lane not in oracle_sql:
            errors[lane] = "no oracle SQL"
            continue
        try:
            err = compare(con, f"{answers}/{lane}", oracle_sql[lane])
        except Exception as e:  # a failing oracle leaves the lane unchecked
            err = f"oracle error: {e}"[:300]
        if err:
            errors[lane] = err
    return errors
