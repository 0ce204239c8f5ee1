"""DuckDB check of the operator workload's set-up pass: every oracle-backed
query's Spark result (dumped as parquet) must equal its oracle SQL over the
same sf directory, compared as row multisets over name-sorted columns with a
1e-9 tolerance on floats."""
import glob
import json
import math
import os

import duckdb


def _norm(v):
    if isinstance(v, float):
        return ("f", round(v, 6))
    if isinstance(v, (list, tuple)):
        return ("l", tuple(_norm(x) for x in v))
    return ("v", str(v) if v is not None else None)


def _canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(r[i] for i in order) for r in rows]
    out.sort(key=lambda r: repr(tuple(_norm(v) for v in r)))
    return [cols[i] for i in order], out


def _equal(a, b):
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(float(a), float(b), rel_tol=0, abs_tol=1e-9) or (math.isnan(a) and math.isnan(b))
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(_equal(x, y) for x, y in zip(a, b))
    return a == b


def check(dump_dir, sf_dir, tables):
    """Return a list of mismatch messages (empty when every query matches)."""
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute(f"SET temp_directory = '{dump_dir}/duckdb-tmp'")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    with open(os.path.join(dump_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    problems = []
    for name, sql in sorted(oracle.items()):
        files = glob.glob(os.path.join(dump_dir, name, "*.parquet"))
        if not files:
            problems.append(f"{name}: no Spark output")
            continue
        s = con.execute(f"SELECT * FROM read_parquet({files!r})")
        s_cols, s_rows = _canon([d[0] for d in s.description], s.fetchall())
        o = con.execute(sql)
        o_cols, o_rows = _canon([d[0] for d in o.description], o.fetchall())
        if s_cols != o_cols:
            problems.append(f"{name}: columns {s_cols} != oracle {o_cols}")
        elif len(s_rows) != len(o_rows):
            problems.append(f"{name}: {len(s_rows)} rows != oracle {len(o_rows)}")
        elif not all(_equal(x, y) for r, q in zip(s_rows, o_rows) for x, y in zip(r, q)):
            problems.append(f"{name}: values differ from oracle")
    con.close()
    return problems
