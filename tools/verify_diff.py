#!/usr/bin/env python3
"""Compare two graft.Verify dumps: every query's rows (rows-only queries
included) and the two oracle_sql.json maps. Rows are compared the way
tools/compare.py compares Spark against DuckDB: columns sorted by name,
rows sorted, exact cell equality. Oracle SQL must have the same key set
and, after collapsing every whitespace run, the same strings.

Prints one line per difference and exits non-zero if there is any.

Usage: python3 tools/verify_diff.py <verify_dir_a> <verify_dir_b>
"""
import glob
import json
import os
import re
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from compare import canon, sortkey  # noqa: E402


def queries(d):
    """Query name -> its parquet files, for every dumped query in `d`."""
    return {os.path.basename(q): files for q in glob.glob(os.path.join(d, "q_*"))
            if (files := sorted(glob.glob(os.path.join(q, "*.parquet"))))}


def rows(con, files):
    t = con.execute(f"SELECT * FROM read_parquet({files!r})").fetch_arrow_table()
    cols = sorted(t.column_names)
    return cols, sorted((tuple(canon(r[c]) for c in cols) for r in t.to_pylist()),
                        key=sortkey)


def row_diffs(a, b):
    con = duckdb.connect()
    qa, qb = queries(a), queries(b)
    for name in sorted(qa.keys() | qb.keys()):
        if name not in qa or name not in qb:
            yield f"{name}: dumped only in {a if name in qa else b}"
            continue
        try:
            (ca, ra), (cb, rb) = rows(con, qa[name]), rows(con, qb[name])
        except duckdb.Error as e:
            yield f"{name}: unreadable dump: {e}"
            continue
        if ca != cb:
            yield f"{name}: columns {ca} vs {cb}"
        elif len(ra) != len(rb):
            yield f"{name}: {len(ra)} rows vs {len(rb)}"
        elif ra != rb:
            i = next(i for i, (x, y) in enumerate(zip(ra, rb)) if x != y)
            n = sum(x != y for x, y in zip(ra, rb))
            yield f"{name}: {n}/{len(ra)} rows differ, first at sorted row {i}: {ra[i]} vs {rb[i]}"


def oracle_diffs(a, b):
    def load(d):
        with open(os.path.join(d, "oracle_sql.json")) as f:
            return {k: re.sub(r"\s+", " ", v).strip() for k, v in json.load(f).items()}
    oa, ob = load(a), load(b)
    for name in sorted(oa.keys() ^ ob.keys()):
        yield f"{name}: oracle SQL only in {a if name in oa else b}"
    for name in sorted(oa.keys() & ob.keys()):
        if oa[name] != ob[name]:
            i = next((i for i, (x, y) in enumerate(zip(oa[name], ob[name])) if x != y),
                     min(len(oa[name]), len(ob[name])))
            yield f"{name}: oracle SQL differs at char {i}: {oa[name][i:i + 60]!r} vs {ob[name][i:i + 60]!r}"


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    a, b = sys.argv[1], sys.argv[2]
    n = 0
    for line in [*row_diffs(a, b), *oracle_diffs(a, b)]:
        print(line)
        n += 1
    print(f"{len(queries(a))} vs {len(queries(b))} queries dumped; {n} differences")
    sys.exit(1 if n else 0)


if __name__ == "__main__":
    main()
