#!/usr/bin/env python3
"""Local replica of the driver's correctness gate (dev tool only — the
shipped library is pure Scala; this script is for the build loop).

Usage: python3 tools/check.py [sfdir] [outdir]
  1. expects `sbt "runMain graft.Verify <sfdir> <outdir>"` to have run;
  2. registers each <sfdir>/<table>.parquet as a DuckDB view;
  3. runs every query in <outdir>/oracle_sql.json;
  4. compares against <outdir>/<name>/ parquet: columns sorted by name,
     rows sorted, exact value equality.
An entry without an oracle fails, and so does an entry whose Spark answer
has 0 rows unless EMPTY_OK declares why an empty answer is right: two
empty answers agree whatever either engine computed.
"""
import json, sys, glob, math
import duckdb

sfdir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
outdir = sys.argv[2] if len(sys.argv) > 2 else "/root/repo/target/verify_out"

con = duckdb.connect()
for p in glob.glob(f"{sfdir}/*.parquet"):
    name = p.split("/")[-1].replace(".parquet", "")
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")

import os
# Large scale fixtures (sf1+): some oracles (the inverted-index self-join
# pair family) grow ~quadratically under the replicated fixture and exceed
# what a single-node oracle can spill — cap the damage instead of filling
# the disk. CHECK_TIMEOUT_S interrupts an oracle after N seconds (reported
# as 'oracle timeout', not a wrong answer); CHECK_SKIP skips entries.
import threading
TIMEOUT_S = int(os.environ.get("CHECK_TIMEOUT_S", "0") or "0")
SKIP = {s.strip() for s in os.environ.get("CHECK_SKIP", "").split(",") if s.strip()}
try:
    con.execute("SET max_temp_directory_size='10GiB'")
    con.execute("SET memory_limit='24GiB'")
except Exception:
    pass

# Resolve the interrupt exception class defensively once: older duckdb
# builds lack the attribute, and `except duckdb.InterruptException` is
# evaluated at handling time — the handler itself would raise
# AttributeError and mask the real error. () never matches.
INTERRUPT_EXC = getattr(duckdb, "InterruptException", ())


class OracleTimeout(Exception):
    pass


_gen_lock = threading.Lock()
_gen = 0


def run_oracle(sql):
    """Execute with optional interrupt-after-timeout.

    The timer callback sets a flag before interrupting; an interrupt
    error is only treated as a timeout when the flag is set. Without the
    flag there is a race: a query completing just as the timer fires
    leaves con.interrupt() to cancel the NEXT oracle, mis-reporting a
    healthy entry as timed out — in that case retry the query once. A
    generation token (re-checked under a lock in the timer callback,
    invalidated the moment a query returns) keeps a stale timer from
    interrupting the connection at all in the common case; the flagged
    retry remains as the backstop."""
    global _gen
    if not TIMEOUT_S:
        return con.execute(sql).df()
    for attempt in (1, 2):
        with _gen_lock:
            _gen += 1
            my_gen = _gen
        fired = threading.Event()

        def _interrupt():
            with _gen_lock:
                if _gen != my_gen:
                    return  # stale timer: its query already finished
                fired.set()
                con.interrupt()

        timer = threading.Timer(TIMEOUT_S, _interrupt)
        timer.start()
        try:
            res = con.execute(sql).df()
            with _gen_lock:
                _gen += 1  # invalidate this attempt's timer immediately
            return res
        except INTERRUPT_EXC:
            if fired.is_set():
                raise OracleTimeout()
            continue  # stray interrupt from a previous query's timer
        except Exception as e:
            if "INTERRUPT" in str(e).upper():
                if fired.is_set():
                    raise OracleTimeout()
                continue
            raise
        finally:
            timer.cancel()
    raise OracleTimeout()  # interrupted twice without our timer firing

oracle = json.load(open(f"{outdir}/oracle_sql.json"))

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from oraclecmp import kindsig, arraycols, canon  # noqa: E402

# {entry: reason} for answers that are empty by design; none today.
EMPTY_OK = {}

fails = []
spark_names = sorted(
    d for d in os.listdir(outdir)
    if os.path.isdir(os.path.join(outdir, d)))
for name in spark_names:
    if name in SKIP:
        print(f"  {name:28s} SKIPPED (CHECK_SKIP)")
        continue
    files = glob.glob(f"{outdir}/{name}/*.parquet")
    if not files:
        fails.append((name, "no spark output parquet"))
        continue
    sdf = con.execute(f"SELECT * FROM '{outdir}/{name}/*.parquet'").df()
    arrc = arraycols(sdf)
    if arrc:
        fails.append((name, f"array-typed output columns (driver sort crashes): {arrc}"))
        continue
    if name not in oracle:
        fails.append((name, "no oracle SQL"))
        continue
    if len(sdf) == 0 and name not in EMPTY_OK:
        fails.append((name, "0 rows: an empty-vs-empty compare proves nothing "
                            "(declare it in EMPTY_OK with a reason if empty by design)"))
        continue
    try:
        odf = run_oracle(oracle[name])
    except OracleTimeout:
        print(f"  {name:28s} ORACLE-TIMEOUT (> {TIMEOUT_S}s single-node; "
              "spark output present, not compared)")
        continue
    except Exception as e:
        fails.append((name, f"oracle SQL error: {e}"))
        continue
    scols, srows = canon(sdf)
    ocols, orows = canon(odf)
    if scols != ocols:
        fails.append((name, f"schema mismatch: spark={scols} oracle={ocols}"))
        continue
    sk, ok_ = kindsig(sdf), kindsig(odf)
    if sk != ok_:
        diff = {c: (sk[c], ok_[c]) for c in sk if sk[c] != ok_[c]}
        fails.append((name, f"dtype-kind mismatch (spark, oracle): {diff}"))
        continue
    if len(srows) != len(orows):
        fails.append((name, f"row count: spark={len(srows)} oracle={len(orows)}"))
        continue
    if srows != orows:
        bad = [(a, b) for a, b in zip(srows, orows) if a != b][:3]
        fails.append((name, f"value mismatch, first diffs: {bad}"))
        continue
    print(f"  {name:28s} OK ({len(srows)} rows)")

missing = sorted(set(oracle) - set(spark_names))
for name in missing:
    fails.append((name, "oracle declared but no spark output"))

print()
if fails:
    print(f"FAILED {len(fails)}:")
    for n, msg in fails:
        print(f"  {n}: {msg[:500]}")
    sys.exit(1)
print(f"ALL {len(spark_names)} queries passed")
