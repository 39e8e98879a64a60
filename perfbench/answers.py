"""Answer checks, run after the timed region.

DSL answers (CSV files in the `Engine.runBatch` format) are compared with
DuckDB over the raw generated parquet: the query is translated to SQL,
both sides are compared as multisets of rows, and every number is rounded
with round(x, 4) on both sides and then allowed one unit of the fourth
decimal, since the engines sum floating point in different orders.
Operator-suite answers go through the repo's own oracle gate,
`tools/check.py`, against each entry's `SparkEntry.oracleSql` twin.
"""
import csv
import glob
import json
import os
import re
import subprocess
import sys

import duckdb

DERIVED = {
    "day": "CAST(ts AS DATE)",
    "week": "CAST(date_trunc('week', ts) AS DATE)",
    "hour": "date_trunc('hour', ts)",
    "minute": "strftime(ts, '%Y-%m-%d %H:%M')",
}
OPS = {"eq": "=", "neq": "<>", "lt": "<", "lte": "<=", "gt": ">", "gte": ">="}
TOL = 1.01e-4


def _col(c):
    return DERIVED.get(c, c)


def _lit(col, v):
    if isinstance(v, str):
        if col == "day" or col == "week":
            return f"DATE '{v}'"
        if col in ("ts", "hour"):
            return f"TIMESTAMP '{v}'"
        return "'" + v.replace("'", "''") + "'"
    return repr(v)


def _pred(p):
    if "or" in p:
        return "(" + " OR ".join(_pred(x) for x in p["or"]) + ")"
    if "and" in p:
        return "(" + " AND ".join(_pred(x) for x in p["and"]) + ")"
    if "not" in p:
        return "(NOT " + _pred(p["not"]) + ")"
    c, op, v = p["col"], p["op"], p["val"]
    e = _col(c)
    if op == "in":
        return f"{e} IN (" + ", ".join(_lit(c, x) for x in v) + ")"
    if op == "between":
        return f"{e} BETWEEN {_lit(c, v[0])} AND {_lit(c, v[1])}"
    return f"{e} {OPS[op]} {_lit(c, v[0] if isinstance(v, list) else v)}"


def to_sql(q, table="events"):
    """DuckDB SQL of a DSL query. ORDER BY is kept only with a LIMIT: other
    answers compare as multisets."""
    items = []
    for s in q["select"]:
        if isinstance(s, str):
            items.append(f'{_col(s)} AS "{s}"')
        else:
            (fn, arg), = s.items()
            name = f"{fn.lower()}({arg})"
            items.append(f'{fn.lower()}({arg}) AS "{name}"')
    sql = f"SELECT {', '.join(items)} FROM {table}"
    if q.get("where"):
        sql += " WHERE " + " AND ".join(_pred(p) for p in q["where"])
    if q.get("group_by"):
        sql += " GROUP BY " + ", ".join(_col(g) for g in q["group_by"])
    if "limit" in q:
        keys = [f'"{o["col"].lower()}" {o.get("dir", "asc")}' for o in q["order_by"]]
        sql += f" ORDER BY {', '.join(keys)} LIMIT {int(q['limit'])}"
    return sql


def _cell(v):
    if v is None or v == "":
        return ("z", "")
    if isinstance(v, (int, float)) and not isinstance(v, bool):
        return ("n", round(float(v), 4))
    s = str(v)
    try:
        return ("n", round(float(s), 4))
    except ValueError:
        pass
    if re.fullmatch(r"\d{4}-\d\d-\d\d \d\d:\d\d:\d\d(\.0+)?", s):
        s = s.split(".")[0]
    return ("s", s)


def _canon_duck(rows, ordered):
    out = []
    for r in rows:
        cells = []
        for v in r:
            if hasattr(v, "strftime") and hasattr(v, "hour"):
                v = v.strftime("%Y-%m-%d %H:%M:%S")
            elif hasattr(v, "isoformat"):
                v = v.isoformat()
            cells.append(_cell(v))
        out.append(tuple(cells))
    return out if ordered else sorted(out)


def read_csv(path, ordered):
    with open(path, newline="", encoding="utf-8") as fh:
        rows = list(csv.reader(fh))
    body = [tuple(_cell(v) for v in r) for r in rows[1:]]
    return rows[0], body if ordered else sorted(body)


def same(a, b):
    if len(a) != len(b):
        return False
    for ra, rb in zip(a, b):
        if len(ra) != len(rb):
            return False
        for (ka, va), (kb, vb) in zip(ra, rb):
            if ka != kb:
                return False
            if ka == "n" and abs(va - vb) > TOL:
                return False
            if ka != "n" and va != vb:
                return False
    return True


class DslOracle:
    """DuckDB over `events` = the given parquet files."""

    def __init__(self, parquet_files):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        files = ", ".join(f"'{f}'" for f in parquet_files)
        self.con.execute(f"CREATE TABLE events AS SELECT * FROM read_parquet([{files}])")
        self.memo = {}

    def expected(self, q):
        key = json.dumps(q, sort_keys=True)
        if key not in self.memo:
            self.memo[key] = _canon_duck(self.con.execute(to_sql(q)).fetchall(),
                                         "limit" in q)
        return self.memo[key]

    def check(self, q, csv_path):
        """None when the CSV is the right answer, else a reason."""
        if not os.path.exists(csv_path):
            return "missing CSV"
        header, rows = read_csv(csv_path, "limit" in q)
        if len(header) != len(q["select"]):
            return f"columns {header}"
        exp = self.expected(q)
        if not same(rows, exp):
            return f"{len(rows)} rows vs {len(exp)} expected; first {rows[:2]} vs {exp[:2]}"
        return None


def check_suite(root, suite_dir, out_dir, work):
    """Run the repo's oracle gate; returns the names of failed entries."""
    oracle_path = os.path.join(out_dir, "oracle_sql.json")
    oracle = json.load(open(oracle_path))
    art = glob.glob(os.path.join(work, "target", "prepared", "pipeline", "v*",
                                 re.sub(r"[^A-Za-z0-9.]+", "_", suite_dir)))
    if art:
        oracle = {k: v.replace("__GRAFT_PIPELINE_ART__", os.path.abspath(art[0]))
                  for k, v in oracle.items()}
    json.dump(oracle, open(oracle_path, "w"))
    r = subprocess.run([sys.executable, os.path.join(root, "tools", "check.py"),
                        suite_dir, out_dir], capture_output=True, text=True,
                       cwd=work, timeout=150)
    failed, in_fail = [], False
    for line in r.stdout.splitlines():
        if line.startswith("FAILED"):
            in_fail = True
        elif in_fail and line.startswith("  ") and ":" in line:
            failed.append(line.strip().split(":")[0])
    if r.returncode != 0 and not failed:
        failed.append("tools/check.py: " + (r.stderr.strip().splitlines() or ["error"])[-1])
    return failed
