#!/usr/bin/env python3
"""A/B two oracle dumps: run the DuckDB SQL of two `oracle_sql.json` files
(say, the `graft.Verify` output of two commits) over the same
tables and report, query by query, whether they return identical rows in
identical order.

Usage: tools/oracle_ab.py <sfDir> <a/oracle_sql.json> <b/oracle_sql.json> [name ...]

Without names, every query present in either file is compared. Exits 1 if
any query's rows or columns differ, or a named query is missing or fails
on either side.
"""
import json, math, os, sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from check import TABLES  # noqa: E402


def norm(v):
    # NaN never equals itself; give it one comparable spelling
    return "NaN" if isinstance(v, float) and math.isnan(v) else v


def run(con, sql):
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return cols, [tuple(norm(v) for v in r) for r in cur.fetchall()]


def main():
    if len(sys.argv) < 4:
        sys.exit(__doc__)
    sf_dir, a_path, b_path = sys.argv[1:4]
    a, b = json.load(open(a_path)), json.load(open(b_path))
    names = sys.argv[4:] or sorted(set(a) | set(b))
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    n_same = n_diff = 0
    for name in names:
        if name not in a or name not in b:
            print(f"DIFF {name}: missing in {'a' if name not in a else 'b'}")
            n_diff += 1
            continue
        try:
            (ca, ra), (cb, rb) = run(con, a[name]), run(con, b[name])
        except Exception as e:
            print(f"DIFF {name}: oracle error: {e}")
            n_diff += 1
            continue
        if ca != cb:
            print(f"DIFF {name}: columns {ca} vs {cb}")
            n_diff += 1
        elif ra != rb:
            first = next((i for i, (x, y) in enumerate(zip(ra, rb)) if x != y),
                         min(len(ra), len(rb)))
            print(f"DIFF {name}: {len(ra)} vs {len(rb)} rows, first difference at row {first}")
            n_diff += 1
        else:
            print(f"same {name} ({len(ra)} rows)")
            n_same += 1
    print(f"== {n_same} identical, {n_diff} different")
    sys.exit(1 if n_diff else 0)


if __name__ == "__main__":
    main()
