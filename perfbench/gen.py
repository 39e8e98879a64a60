"""Seeded inputs of the benchmark. The same seed gives byte-identical files.

- events: the fixture `events` schema (event_id, ts, user_id, event_type,
  value, props), ts stored as TIMESTAMP(MICROS, isAdjustedToUTC=false)
  like the read-only fixtures and `graft.tools.MakeSfN`;
- refresh deltas: further events with fresh ids, spread over the whole
  time range so every refresh touches every partition;
- DSL queries: routed templates with seeded parameters, plus the skewed
  read mix of the serving workload;
- the operator-suite dir: the read-only sf0.01 fixture (`suite_source`) with
  every key column passed through a seeded bijection of its domain and
  every table's rows shuffled, so joins and near-duplicate structure
  survive while no two seeds share a physical layout.
"""
import json
import math
import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TYPES = ["click", "error", "purchase", "signup", "view"]
USERS = 1500
T0 = np.datetime64("2024-01-01T00:00:00", "us")
DAYS = 30
SPAN_US = DAYS * 86400 * 10**6



def suite_source():
    """The read-only fixture the suite dir derives from: the sf0.01 dir the
    repo's fixture registry TESTDATA.md lists, unless
    PERFBENCH_SUITE_SOURCE names another."""
    if os.environ.get("PERFBENCH_SUITE_SOURCE"):
        return os.environ["PERFBENCH_SUITE_SOURCE"]
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "TESTDATA.md")) as fh:
        m = re.search(r"\|\s*0\.01\s*\|\s*`([^`]+)`", fh.read())
    if not m:
        raise ValueError("TESTDATA.md lists no sf0.01 fixture")
    return m.group(1).rstrip("/")

EVENT_SCHEMA = pa.schema([
    ("event_id", pa.int64()), ("ts", pa.timestamp("us")),
    ("user_id", pa.int64()), ("event_type", pa.string()),
    ("value", pa.float64()), ("props", pa.string())])


def _write(table, path):
    pq.write_table(table, path, compression="zstd", row_group_size=1 << 16)


def events(rng, n, first_id=0):
    """`n` events with ids from `first_id`, sorted by time."""
    ts = np.sort(rng.integers(0, SPAN_US, n))
    t = pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
        "ts": pa.array(T0 + ts.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, USERS, n, dtype=np.int64)),
        "event_type": pa.array(np.array(TYPES)[rng.integers(0, len(TYPES), n)]),
        "value": pa.array(np.round(rng.uniform(0, 200, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    }, schema=EVENT_SCHEMA)
    return t


def write_events(seed, n, path):
    _write(events(np.random.default_rng([seed, 1]), n), path)


def write_deltas(seed, first_id, n, count, prefix):
    rng = np.random.default_rng([seed, 2])
    paths = []
    for k in range(count):
        p = f"{prefix}{k}.parquet"
        _write(events(rng, n, first_id + k * n), p)
        paths.append(p)
    return paths


# ------------------------------------------------------------------ queries

def _day(rng, lo=1, hi=DAYS):
    return f"2024-01-{int(rng.integers(lo, hi + 1)):02d}"


def _q(select, where=None, group_by=None, order_by=None):
    q = {"select": select, "from": "events"}
    if where:
        q["where"] = where
    if group_by:
        q["group_by"] = group_by
    if order_by:
        q["order_by"] = order_by
    return q


def _c(col, op, val):
    return {"col": col, "op": op, "val": val}


def routed_queries(rng):
    """One instance of every routed shape: the golden queries q1/q3/q4/alt2
    and the `route_*` shapes answer from a rollup; the z-boxes from the
    (user_id, ts) z-layout. Seeds move ranges and boxes but never resize
    them, so every seed asks for the same amount of work."""
    t = TYPES[int(rng.integers(len(TYPES)))]
    d1 = int(rng.integers(1, DAYS - 5))
    u1 = int(rng.integers(0, USERS - 50))
    b1 = int(rng.integers(1, DAYS - 4))
    users = [u1, u1 + 50]
    ts_box = [_c("user_id", "between", users),
              _c("ts", "gte", f"2024-01-{b1:02d} 00:00:00"),
              _c("ts", "lt", f"2024-01-{b1 + 4:02d} 00:00:00")]
    days = _c("day", "between", [f"2024-01-{b1:02d}", f"2024-01-{b1 + 4:02d}"])
    pts = sorted(int(x) for x in rng.choice(USERS, 3, replace=False))
    return [
        _q(["day", {"SUM": "value"}], [_c("event_type", "eq", t)], ["day"]),
        _q(["day", {"AVG": "value"}], [_c("event_type", "eq", "purchase")], ["day"],
           [{"col": "AVG(value)", "dir": "desc"}]),
        _q(["user_id", "event_type", {"COUNT": "*"}], None, ["user_id", "event_type"],
           [{"col": "COUNT(*)", "dir": "desc"}]),
        _q(["event_type", {"COUNT": "*"}], None, ["event_type"]),
        _q(["event_type", {"SUM": "value"}, {"AVG": "value"}, {"COUNT": "*"}],
           None, ["event_type"]),
        _q(["day", {"SUM": "value"}, {"AVG": "value"}],
           [_c("event_type", "eq", "purchase")], ["day"]),
        _q(["day", {"SUM": "value"}, {"COUNT": "*"}],
           [_c("event_type", "eq", "purchase"),
            _c("day", "between", [f"2024-01-{d1:02d}", f"2024-01-{d1 + 5:02d}"])], ["day"]),
        _q(["user_id", {"COUNT": "*"}, {"SUM": "value"}], None, ["user_id"]),
        _q(["minute", {"SUM": "value"}], [_c("day", "eq", _day(rng))], ["minute"]),
        _q(["event_id", "user_id", "value"], ts_box),
        _q(["event_type", {"COUNT": "*"}, {"SUM": "value"}], ts_box, ["event_type"]),
        _q(["event_id", "user_id", "value"], [_c("user_id", "between", users), days]),
        _q(["event_id", "user_id", "value"], [_c("user_id", "in", pts), days]),
    ]


def scan_queries(rng):
    """Shapes no rollup or z-layout answers: derived hour and minute
    groupings, a value range, an OR/NOT filter, ORDER BY + LIMIT, and a
    partition-pruned select of 10^4+ rows."""
    t = TYPES[int(rng.integers(len(TYPES)))]
    lo = round(float(rng.uniform(0, 100)), 2)
    d1 = int(rng.integers(1, DAYS - 10))
    return [
        _q(["hour", {"COUNT": "*"}], [_c("day", "eq", _day(rng))], ["hour"]),
        _q(["minute", {"SUM": "value"}],
           [_c("event_type", "eq", t), _c("day", "eq", _day(rng))], ["minute"],
           [{"col": "minute", "dir": "asc"}]),
        _q(["event_type", {"COUNT": "*"}, {"SUM": "value"}],
           [_c("value", "between", [lo, lo + 50])], ["event_type"]),
        _q(["event_type", {"COUNT": "*"}],
           [{"or": [_c("event_type", "eq", "purchase"),
                    {"and": [_c("event_type", "eq", "click"), _c("value", "gt", 150)]}]},
            {"not": _c("user_id", "lt", int(rng.integers(5, 50)))}],
           ["event_type"]),
        dict(_q(["event_id", "user_id", "value"], [_c("value", "gt", lo)], None,
                [{"col": "value", "dir": "desc"}, {"col": "event_id", "dir": "asc"}]),
             limit=100),
        _q(["event_id", "value"],
           [_c("event_type", "eq", t),
            _c("day", "between", [f"2024-01-{d1:02d}", f"2024-01-{d1 + 9:02d}"])]),
    ]


def write_queries(queries, path):
    with open(path, "w") as fh:
        for q in queries:
            fh.write(json.dumps(q, separators=(",", ":")) + "\n")


def dsl_inputs(seed, n_events, work, scan=False):
    """Events, the batch (routed, or scan-only), and the client's query
    order."""
    write_events(seed, n_events, f"{work}/events.parquet")
    rng = np.random.default_rng([seed, 3])
    qs = scan_queries(rng) if scan else routed_queries(rng)
    write_queries(qs, f"{work}/queries.jsonl")
    # the first query is fixed, so first_answer_s times the same query for
    # every seed; the rest run in a seeded order
    order = [0] + [1 + int(i) for i in rng.permutation(len(qs) - 1)]
    with open(f"{work}/order.txt", "w") as fh:
        fh.write(",".join(map(str, order)) + "\n")
    return qs


def serve_inputs(seed, n_events, delta_rows, n_deltas, readers, mix_len, work):
    write_events(seed, n_events, f"{work}/events.parquet")
    rng = np.random.default_rng([seed, 4])
    qs = routed_queries(rng) + scan_queries(rng)
    write_queries(qs, f"{work}/queries.jsonl")
    deltas = write_deltas(seed, n_events, delta_rows, n_deltas, f"{work}/delta_")
    # skewed repeat mix: Zipf-like weights over a seeded ranking
    rank = rng.permutation(len(qs))
    w = 1.0 / (np.arange(1, len(qs) + 1) ** 1.1)
    w = w / w.sum()
    with open(f"{work}/mix.txt", "w") as fh:
        for _ in range(readers):
            picks = rank[rng.choice(len(qs), mix_len, p=w)]
            fh.write(",".join(str(int(i)) for i in picks) + "\n")
    return qs, deltas


# ------------------------------------------------------------- suite dir

# key domains: every column of a domain goes through the same bijection
KEY_DOMAINS = {
    "custkey": [("customer", "c_custkey"), ("orders", "o_custkey")],
    "orderkey": [("orders", "o_orderkey"), ("lineitem", "l_orderkey")],
    "partkey": [("part", "p_partkey"), ("lineitem", "l_partkey")],
    "suppkey": [("supplier", "s_suppkey"), ("lineitem", "l_suppkey")],
    "event_id": [("events", "event_id")],
    "user_id": [("events", "user_id")],
    "doc_id": [("documents", "doc_id")],
    "vec_id": [("embeddings", "vec_id")],
}
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def suite_dir(seed, out, source=None):
    """Derive the suite fixture from `source` (default `suite_source()`):
    k -> (a*k + b) mod M per key domain (M = domain max + 1,
    gcd(a, M) = 1) and a seeded row shuffle of every table. Dimension
    tables (region, nation) are copied."""
    rng = np.random.default_rng([seed, 5])
    source = source or suite_source()
    tables = {t: pq.read_table(f"{source}/{t}.parquet") for t in TABLES}
    maps = {}
    for dom, cols in KEY_DOMAINS.items():
        m = 1 + max(int(pc.max(tables[t][c]).as_py()) for t, c in cols)
        while True:
            a = int(rng.integers(1, m))
            if math.gcd(a, m) == 1:
                break
        maps[dom] = (a, int(rng.integers(0, m)), m)
    os.makedirs(out, exist_ok=True)
    for t in TABLES:
        tab = tables[t]
        for dom, cols in KEY_DOMAINS.items():
            a, b, m = maps[dom]
            for tt, c in cols:
                if tt == t:
                    k = tab[c].to_numpy().astype(np.int64)
                    mapped = (a * k + b) % m
                    i = tab.schema.get_field_index(c)
                    tab = tab.set_column(i, tab.schema.field(i),
                                         pa.array(mapped, type=tab.schema.field(i).type))
        if t not in ("region", "nation"):
            tab = tab.take(pa.array(rng.permutation(tab.num_rows)))
        _write(tab, f"{out}/{t}.parquet")
