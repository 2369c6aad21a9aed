"""Reference answers from DuckDB for the benchmark's relational checks.

Usage: python3 oracle.py <tables_dir> <queries.json> <answers.json>

Registers every `<name>.parquet` dataset under <tables_dir> as a view,
runs each named SQL of <queries.json> ({name: sql}) and writes
{name: {"columns": [...], "rows": [[[tag, value], ...], ...]}}, where tag is
i (integer), d (floating), s (string), b (boolean) or n (null). Floats that
are not finite are written as strings, so the file stays plain JSON.
"""
import decimal
import json
import math
import os
import sys

import duckdb


def cell(v):
    if v is None:
        return ["n", None]
    if isinstance(v, bool):
        return ["b", v]
    if isinstance(v, int):
        return ["i", v]
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        return ["d", f if math.isfinite(f) else repr(f)]
    return ["s", str(v)]


def main():
    tables_dir, queries_path, out_path = sys.argv[1:4]
    con = duckdb.connect()
    con.execute(f"SET threads TO {max(1, len(os.sched_getaffinity(0)))}")
    for entry in sorted(os.listdir(tables_dir)):
        if entry.endswith(".parquet"):
            path = os.path.join(tables_dir, entry)
            glob = os.path.join(path, "*.parquet") if os.path.isdir(path) else path
            con.execute(f"CREATE VIEW {entry[:-len('.parquet')]} AS SELECT * FROM '{glob}'")
    answers = {}
    with open(queries_path) as f:
        queries = json.load(f)
    for name, sql in queries.items():
        res = con.execute(sql)
        cols = [d[0] for d in res.description]
        answers[name] = {"columns": cols,
                         "rows": [[cell(v) for v in row] for row in res.fetchall()]}
    with open(out_path, "w") as f:
        json.dump(answers, f)


if __name__ == "__main__":
    main()
