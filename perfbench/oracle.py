"""Oracle check of the outputs the build's perfbench.Train run writes: each
job kind's rows against its DuckDB oracle (`SparkEntry.oracleSql`), with
the compare of `tools/compare.py` (columns sorted by name, rows sorted,
value hash). perfbench/build.py runs it once per build; every benchmark
run then checks its outputs' digests against the checked ones.
"""
import glob
import os
import sys


def _compare(root):
    sys.path.insert(0, os.path.join(root, "tools"))
    import compare
    return compare


def _connect(compare, data_dir, threads):
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET threads={threads}")
    for t in compare.TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def _oracle_sig(compare, con, sql):
    lint = compare.lint_oracle_types(con, sql)
    if lint:
        return {"error": lint}
    cur = con.execute(sql)
    names, n, h, _ = compare.table_sig([d[0] for d in cur.description], cur.fetchall())
    return {"names": names, "rows": n, "hash": h}


def _spark_sig(compare, out_dir):
    import pyarrow.parquet as pq
    files = glob.glob(os.path.join(out_dir, "*.parquet"))
    if not files:
        return None
    t = pq.read_table(files[0])
    cols = t.column_names
    rows = list(zip(*(t.column(c).to_pylist() for c in cols))) if cols else []
    names, n, h, _ = compare.table_sig(cols, rows)
    return {"names": names, "rows": n, "hash": h}


def check(root, data_dir, run_dir, oracle_sql, threads):
    """Returns {kind: None if it matches, else the reason}."""
    compare = _compare(root)
    con = _connect(compare, data_dir, threads)
    result = {}
    for kind, sql in sorted(oracle_sql.items()):
        spark = _spark_sig(compare, os.path.join(run_dir, "out", kind))
        if spark is None:
            result[kind] = "no output written"
            continue
        oracle = _oracle_sig(compare, con, sql)
        ok = oracle == spark or (
            # compare.py's adjudication: a parallel DuckDB sum can flip a
            # grid-boundary value; a single-thread oracle is deterministic
            _oracle_sig(compare, _connect(compare, data_dir, 1), sql) == spark)
        result[kind] = None if ok else f"oracle {oracle} vs spark {spark}"
    return result
