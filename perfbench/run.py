#!/usr/bin/env python3
"""The repo benchmark: one command, run from the checkout root.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark harness from source (perfbench/build.py),
generates seeded inputs, runs the workload's set-up JVM and run JVM through
the engine's public entry points, checks every answer outside the timed
region, and prints one JSON object as the last line of stdout:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
See perfbench/README.md.
"""
import argparse
import glob
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave nothing in the checkout but the work dir

import pyarrow.parquet as pq  # noqa: E402

import answers  # noqa: E402
import build  # noqa: E402
import gen  # noqa: E402

# Workload sizes. A run of a workload BENCHMARK.json lists (dsl_routed,
# entry_suite) is one JVM plus inputs and checks, under a minute on a
# 4-core box: per-query and per-entry cost here is mostly fixed
# Spark-driver, JIT and job-launch work, not data volume. dsl_scan and
# serve_refresh are run by hand (README.md).
SIZES = {
    "dsl_routed": {"events": 50_000},
    "dsl_scan": {"events": 500_000},
    "serve_refresh": {"events": 100_000, "delta_rows": 2_000, "deltas": 12,
                      "compact_every": 3, "mix_len": 5_000},
    "entry_suite": {},
}
WORKLOADS = list(SIZES)

# 12 of the graft.Bench group-1 headline entries, in Bench order: every
# operator family (DSL scan, TPC-H, sessions, dedup, ANN, text, packing)
# and the entries ROADMAP names, few enough that three warm passes fit in
# a 20 s window. The three prepared-engine entries are the dsl workloads'
# path, and ext_merge_upsert_bucketed writes to a hard-coded absolute
# warehouse path outside the checkout.
SUITE = [
    "r9_agg_sum", "tpch_q1", "tpch_q5", "sessionize",
    "dedup_minhash", "dedup_ngram_blocked", "dedup_clusters", "dedup_substrings",
    "pipeline_curate_pack", "ann_ivf_topk", "text_quality", "ext_pack_sequences"]
SIZES["entry_suite"]["entries"] = SUITE

# --smoke: tiny inputs that still take every code path (tests/test_smoke.py)
SMOKE_SIZES = {
    "dsl_routed": {"events": 5_000},
    "dsl_scan": {"events": 5_000},
    "serve_refresh": {"events": 5_000, "delta_rows": 200, "deltas": 2,
                      "compact_every": 1, "mix_len": 50},
    "entry_suite": {"entries": ["r9_agg_sum", "tpch_q5", "dedup_ngram_blocked"]},
}

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

# metric names and units: BENCHMARK.json at the checkout root, plus the
# counters only serve_refresh has
SPEC_PATH = os.path.join(ROOT, "BENCHMARK.json")
SERVE_LAYER = {
    "cache.hit_ratio": "ratio", "cache.hits": "count", "cache.misses": "count",
    "prepare.refresh_s": "s", "prepare.compact_s": "s", "prepare.write_amp": "ratio"}


def metric_units():
    spec = json.load(open(SPEC_PATH))
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


class BenchError(Exception):
    pass


PHASE_S = {}  # wall seconds of each phase of this run, for the detail line


def phase(name, t0):
    PHASE_S[name] = round(time.time() - t0, 2)


def cpu_ticks():
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    return (f[7] if len(f) > 7 else 0), sum(f)


def box():
    """nproc, Spark driver heap, JDK, load average."""
    try:
        cpus = len(os.sched_getaffinity(0))
    except AttributeError:
        cpus = os.cpu_count() or 1
    mem_kb = 4 << 20
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    heap_gb = max(2, min(6, mem_kb // (4 << 20)))
    jdk = subprocess.run(["java", "-version"], capture_output=True, text=True).stderr
    return {"nproc": cpus, "heap": f"{heap_gb}g",
            "jdk": (jdk.splitlines() or ["?"])[0],
            "loadavg": os.getloadavg()[0], "mem_total_gb": round(mem_kb / 2**20, 1)}


def jvm(cp, b, work, mode, deadline, **params):
    """Run one benchmark JVM phase; returns its result JSON."""
    result = os.path.join(work, f"{mode}.json")
    cmd = ["java"]
    for o in JDK17_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += [f"-Xmx{b['heap']}", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "perfbench.Main",
            f"mode={mode}", f"result={result}", f"work={work}", f"cpus={b['nproc']}"]
    cmd += [f"{k}={v}" for k, v in params.items()]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(b["nproc"]))
    log_path = os.path.join(work, f"{mode}.log")
    t0 = time.time()
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=log,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            raise BenchError(f"{mode} exceeded the time budget")
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    phase(mode, t0)
    if rc != 0 or not os.path.exists(result):
        tail = open(log_path, errors="replace").read().splitlines()[-30:]
        raise BenchError(f"{mode} exited with {rc}:\n" + "\n".join(tail))
    return json.load(open(result))


def pct(xs, q):
    xs = sorted(xs)
    if not xs:
        return 0.0
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def run_dsl(cp, b, work, seed, seconds, trace, deadline, scan=False):
    z = SIZES["dsl_scan" if scan else "dsl_routed"]
    t0 = time.time()
    qs = gen.dsl_inputs(seed, z["events"], work, scan)
    phase("gen", t0)
    out = f"{work}/out"
    r = jvm(cp, b, work, "dsl-run", deadline, events=f"{work}/events.parquet",
            root=f"{work}/prepared", queries=f"{work}/queries.jsonl",
            order=f"{work}/order.txt", out=out, seconds=seconds, trace=int(trace))
    t0 = time.time()
    oracle = answers.DslOracle([f"{work}/events.parquet"])
    checks = []
    for kind in ("batch", "traced"):
        for d in glob.glob(f"{out}/{kind}/*"):
            checks += [(qs[i], f"{d}/q{n + 1}.csv") for n, i in enumerate(r["order"])]
    wrong, reasons = 0, []
    for q, path in checks:
        why = oracle.check(q, path)
        if why:
            wrong += 1
            reasons.append(f"{os.path.relpath(path, out)}: {why}")
    phase("check", t0)
    for i, route in enumerate(r["routes"]):
        if (route == "scan") != scan:
            wrong += 1
            reasons.append(f"q{i + 1} took the {route} path")
    e2e = {
        "setup_s": r["setup_s"],
        "query_cpu_ms": r["query_cpu_ms"],
        "stored_bytes_ratio": r["stored_bytes"] / r["raw_bytes"],
        "resident_peak_mb": r["resident_peak_mb"],
    }
    layer = dict(r)
    layer.update({"ops.batch_s": median(r["batch_s"]),
                  "ops.query_p50_ms": pct(r["query_ms"], 0.5),
                  "ops.query_p90_ms": pct(r["query_ms"], 0.9),
                  "ops.first_answer_s": r["first_answer_s"],
                  "prepare.layout_files": r["layout_files"],
                  "ops.query_samples": len(r["query_ms"])})
    return e2e, layer, r["attempted"], r["failed"] + wrong, reasons, {
        "setup_s": r["setup_s"], "batch_s": r["batch_s"], "routes": r["routes"],
        "first_answer_samples_s": r["first_answer_samples_s"], "layout_files": r["layout_files"],
        "window_s": r["window_s"], "window_cpu_s": r["window_cpu_s"],
        "window_jit_s": r["window_jit_s"],
        "per_query_ms": r["per_query_ms"],
        "query_samples": len(r["query_ms"]),
        "contended": r["contended"]}


def run_serve(cp, b, work, seed, seconds, trace, deadline):
    z = SIZES["serve_refresh"]
    readers = max(1, b["nproc"] - 1)
    qs, deltas = gen.serve_inputs(seed, z["events"], z["delta_rows"], z["deltas"],
                                  readers, z["mix_len"], work)
    out = f"{work}/out"
    r = jvm(cp, b, work, "serve-run", deadline, events=f"{work}/events.parquet",
            root=f"{work}/prepared",
            queries=f"{work}/queries.jsonl", mix=f"{work}/mix.txt",
            deltas=",".join(deltas), compact_every=z["compact_every"], out=out,
            seconds=seconds, trace=int(trace))
    oracle = answers.DslOracle([f"{work}/events.parquet"] + deltas[:r["applied"]])
    wrong, reasons = 0, []
    for i, q in enumerate(qs):
        paths = [f"{out}/final/q{i + 1}.csv"]
        if trace:
            paths.append(f"{out}/traced/{i}/q1.csv")
        for path in paths:
            why = oracle.check(q, path)
            if why:
                wrong += 1
                reasons.append(f"q{i + 1} {os.path.relpath(path, out)}: {why}")
    reasons += [f"in-flight: {e}" for e in r["errors"]]
    hits, misses = r["cache_hits"], r["cache_misses"]
    e2e = {
        "setup_s": r["setup_s"],
        "query_cpu_ms": r["query_cpu_ms"],
        "stored_bytes_ratio": r["stored_bytes"] / r["raw_bytes"],
        "resident_peak_mb": r["resident_peak_mb"],
    }
    layer = dict(r)
    layer.update({
        "cache.hit_ratio": hits / max(1, hits + misses), "cache.hits": hits,
        "cache.misses": misses, "prepare.refresh_s": median(r["refresh_s"]),
        "prepare.compact_s": median(r["compact_s"]), "prepare.write_amp": r["write_amp"],
        "prepare.layout_files": r["layout_files"],
        "ops.batch_s": r["batch_s"],
        "ops.query_p50_ms": pct(r["query_ms"], 0.5),
        "ops.query_p90_ms": pct(r["query_ms"], 0.9),
        "ops.first_answer_s": r["first_answer_s"],
        "ops.query_samples": len(r["query_ms"])})
    # an in-flight scan failure during a refresh is counted, not hidden;
    # only wrong final answers make the run incorrect
    return e2e, layer, r["attempted"], r["failed"] + wrong, reasons, {
        "setup_s": r["setup_s"], "refresh_s": r["refresh_s"],
        "compact_s": r["compact_s"], "applied": r["applied"],
        "wrong_answers": wrong, "in_flight_failures": r["failed"]}


def run_suite(cp, b, work, seed, seconds, trace, deadline):
    sdir = f"{work}/suite"
    t0 = time.time()
    gen.suite_dir(seed, sdir)
    phase("gen", t0)
    out = f"{work}/out"
    r = jvm(cp, b, work, "suite-run", deadline, dir=sdir, out=out,
            entries=",".join(SIZES["entry_suite"]["entries"]), seconds=seconds,
            trace=int(trace))
    t0 = time.time()
    failed_entries = answers.check_suite(ROOT, sdir, out, work)
    phase("check", t0)
    reasons = [f"{n}: wrong answer" for n in failed_entries]
    # every timed execution must return the checked answer's row count
    for n, counts in r["row_counts"].items():
        files = glob.glob(f"{out}/{n}/*.parquet")
        want = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
        if set(counts) != {want}:
            failed_entries.append(n)
            reasons.append(f"{n}: timed row counts {sorted(counts)} vs {want}")
    runs = len(r["pass_s"]) + (1 if trace else 0)
    wrong = len(set(failed_entries)) * (runs + 1)
    e2e = {
        "setup_s": r["setup_s"],
        "query_cpu_ms": r["query_cpu_ms"],
        "stored_bytes_ratio": r["stored_bytes"] / r["raw_bytes"],
        "resident_peak_mb": r["resident_peak_mb"],
    }
    layer = dict(r)
    layer.update({f"entry.{n}_s": median(v) / 1e3 for n, v in r["entry_ms"].items()})
    layer.update({"ops.batch_s": median(r["pass_s"]),
                  "ops.query_p50_ms": pct(r["query_ms"], 0.5),
                  "ops.query_p90_ms": pct(r["query_ms"], 0.9),
                  "ops.first_answer_s": r["first_answer_s"],
                  "prepare.layout_files": r["layout_files"],
                  "ops.query_samples": len(r["query_ms"])})
    return e2e, layer, r["attempted"], r["failed"] + wrong, reasons, {
        "setup_s": r["setup_s"], "pass_s": r["pass_s"],
        "window_s": r["window_s"], "window_cpu_s": r["window_cpu_s"],
        "window_jit_s": r["window_jit_s"],
        "entry_ms": r["entry_ms"],
        "contended": r["contended"]}


RUNNERS = {"dsl_routed": run_dsl,
           "dsl_scan": lambda *a: run_dsl(*a, scan=True),
           "serve_refresh": run_serve, "entry_suite": run_suite}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs, for the benchmark's own smoke test")
    args = ap.parse_args()
    # a terminated benchmark still stops and reaps its JVM (see jvm())
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if args.smoke:
        SIZES.update(SMOKE_SIZES)
    deadline = time.time() + 170
    t0 = time.time()
    try:
        end_to_end, per_layer = metric_units()
        cp = build.build()
    except (RuntimeError, OSError, ValueError) as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2
    phase("build", t0)
    b = box()
    steal0, total0 = cpu_ticks()
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        e2e, layer, attempted, failed, reasons, detail = RUNNERS[args.workload](
            cp, b, work, args.seed, args.seconds, bool(args.trace), deadline)
    except (BenchError, OSError, ValueError, KeyError) as e:
        print(f"perfbench: {args.workload} failed: {e}", file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)
    layer["ops.fail_ratio"] = failed / max(1, attempted)
    wrong = detail.get("wrong_answers", failed)
    b["loadavg_after"] = os.getloadavg()[0]
    steal, total = cpu_ticks()
    # share of CPU time the hypervisor gave to other guests during the run
    b["steal"] = round((steal - steal0) / max(1, total - total0), 4)
    b["contended"] = (bool(detail.get("contended")) or b["loadavg"] > b["nproc"]
                      or b["steal"] > 0.05)
    for line in reasons[:20]:
        print(f"perfbench: {line}", file=sys.stderr)
    print("perfbench box: " + json.dumps(b))
    detail["qps"] = len(layer["query_ms"]) / layer["window_s"]
    detail["task_cpu_ms_per_query"] = layer["cpu_ms_per_query"]
    detail["phase_s"] = PHASE_S
    print("perfbench detail: " + json.dumps(detail))
    if args.trace:
        if args.workload == "serve_refresh":
            per_layer.update(SERVE_LAYER)
        metrics = {k: {"value": float(layer.get(k) or 0.0), "unit": u}
                   for k, u in per_layer.items()}
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in end_to_end.items()}
    print(json.dumps({"correct": wrong == 0, "attempted": int(attempted),
                      "failed": int(failed), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
