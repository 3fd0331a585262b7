#!/usr/bin/env python3
"""The repo benchmark: one command, three workloads, every metric by name.

    python3 perfbench/run.py --workload <sql_interactive|batch_pipeline|
        stream_changelog> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
harness from source into $CARGO_TARGET_DIR (default .bench_build) and
generates the input tables; later runs reuse both. The engine runs in
one JVM (perfbench/harness); this script makes the seeded inputs, checks
every result against its DuckDB or plain-Scala reference outside the
timed window, and prints one JSON line last. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.join(HERE, "harness"))
import bench_lib as lib  # noqa: E402
import gen_data  # noqa: E402
from build import build, spark_jars  # noqa: E402

SF = 0.01
DATA_SEED = 42
# one job per costly family, the known-unstable q_dedup_minhash and jobs
# that persist without unpersisting (bm25's tf, semdedup's pairs), in a
# fixed order: early jobs pay the JVM's shared first-use costs (up to
# +2 s), and a seeded order moved the median job time by over 20%
# between seeds
BATCH_JOBS = [
    "q_tpch_q18", "q_tpcdsgen_q23", "q_dedup_minhash", "q_text_bm25",
    "q_semdedup", "q_graph_pagerank"]
BATCH_WARMUP = ["q1_agg"]
N_STATEMENTS = 22
CLIENTS = 4
# sql_interactive measures one pass of the statement list per started
# SQL_PASS_S of --seconds (2 at 8 s), a fixed count whatever the engine's
# speed, so the sample count and the tail percentile are fixed too; and
# reports the median of SQL_SETUPS set-ups
SQL_PASS_S = 4
SQL_SETUPS = 3
# stream_changelog: the reference rate (events/s) and the shares of
# --seconds spent at it and in the saturation phase
STREAM_REF_RATE = 4000
STREAM_REF_SHARE = 0.8
STREAM_SAT_SHARE = 0.8
STREAM_SAT_BACKLOG = 10000
STREAM_SAT_MAX_EPS = 80000
STREAM_WARM = 4000
STREAM_BURST = 20000
STREAM_BURSTS = 5
STREAM_KEYS = 2000
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def data(bdir):
    d = os.path.join(bdir, f"data-sf{SF}-seed{DATA_SEED}")
    if not os.path.exists(d + ".ok"):
        gen_data.write(d, SF, DATA_SEED)
        open(d + ".ok", "w").close()
    return d


# ------------------------------------------------------------ workloads


def sql_passes(seconds):
    return max(1, math.ceil(seconds / SQL_PASS_S))


def sql_config(seed, n_users, seconds):
    stmts = lib.statements(seed, N_STATEMENTS, n_users)
    passes = lib.orders(seed, range(len(stmts)), sql_passes(seconds), "sql-passes")
    first = {}
    for i, s in enumerate(stmts):
        first.setdefault(s[0], i)
    return stmts, {"statements": [s[1] for s in stmts], "passes": passes,
                   "warmup": sorted(first.values()), "clients": CLIENTS,
                   "setups": SQL_SETUPS}


def run_jvm(cp, cfg, rdir, timeout):
    cfg_path = os.path.join(rdir, "config.json")
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    tmp = os.path.join(rdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env["SPARK_GRAFT_STAR_DIR"] = os.path.join(os.path.dirname(rdir), "..", "star")
    cmd = (["java", "-XX:-UsePerfData", "-Xmx3g", "-Xss8m", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] +
           [f"--add-opens={p}=ALL-UNNAMED" for p in JVM_OPENS] +
           ["-cp", ":".join(cp), "perfbench.Harness", cfg_path])
    with open(os.path.join(rdir, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            fail(f"engine run exceeded {timeout} s, see {rdir}/jvm.log")
        finally:
            # also on SIGTERM (see main): never leave the engine running
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0:
        tail = open(os.path.join(rdir, "jvm.log")).read()[-3000:]
        fail(f"engine run failed ({rc}):\n{tail}")
    with open(os.path.join(cfg["out_dir"], "result.json")) as f:
        return json.load(f)


# ---------------------------------------------------------- correctness


def duck(d):
    import duckdb
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads TO 4")
    for t in gen_data.TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{d}/{t}.parquet'")
    return con


def check_sql(d, stmts, out_dir):
    """Hash every execution's rows against its statement's DuckDB twin."""
    con = duck(d)
    want = {}
    for i, (_, _, duck_sql) in enumerate(stmts):
        cur = con.execute(duck_sql)
        want[i] = ([c[0] for c in cur.description], cur.fetchall())
    failed = 0
    bad = []
    with open(os.path.join(out_dir, "results.jsonl")) as f:
        for line in f:
            e = json.loads(line)
            if e["error"] is not None or e["columns"] is None:
                failed += 1
                bad.append((e["stmt"], e["error"]))
                continue
            cols = json.loads(e["columns"])
            names = [c["name"] for c in cols]
            types = [c["logicalType"]["type"] for c in cols]
            rows = [[lib.parse_typed(v, t) for v, t in zip(json.loads(r), types)]
                    for r in e["rows"]]
            if not lib.results_match(names, rows, *want[e["stmt"]]):
                failed += 1
                bad.append((e["stmt"], "result differs from the DuckDB twin"))
    return failed, bad


def check_batch(d, bdir, out_dir, jobs):
    """Every job's verify-pass output against its DuckDB oracle. A result
    that matched once is remembered by its hash per (oracle text, data
    set), so later runs skip the oracle query when the hash repeats."""
    import pyarrow.parquet as pq
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    cache_path = os.path.join(bdir, "oracle-cache.json")
    cache = json.load(open(cache_path)) if os.path.exists(cache_path) else {}
    con = None
    bad = []
    for j in jobs:
        key = hashlib.sha256((d + "\n" + oracles.get(j, "")).encode()).hexdigest()
        p = os.path.join(out_dir, "verify", j)
        if not os.path.isdir(p):
            bad.append((j, "no result"))
            continue
        got = pq.read_table(p).to_pandas()
        got = (list(got.columns), list(got.itertuples(index=False, name=None)))
        h = lib.result_hash(*got)
        if cache.get(key) == list(h):
            continue
        con = con or duck(d)
        exp = con.execute(oracles[j]).df()
        exp = (list(exp.columns), list(exp.itertuples(index=False, name=None)))
        if lib.results_match(*got, *exp):
            cache[key] = list(h)
        else:
            bad.append((j, f"{h[1]} rows vs oracle {len(exp[1])}"))
    with open(cache_path, "w") as f:
        json.dump(cache, f)
    return bad


# -------------------------------------------------------------- metrics


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["sql_interactive", "batch_pipeline", "stream_changelog"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # turn SIGTERM into an exit, so `finally` blocks stop the engine JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    if not os.path.exists(os.path.join(root, "build.sbt")) or \
            not os.path.isdir(os.path.join(root, "src/main/scala")):
        fail("run from the root of a checkout (build.sbt and src/main/scala)")
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        per_layer = json.load(f)["per_layer"]
    bdir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(bdir, exist_ok=True)
    jars = spark_jars(root)
    cp = build(root, bdir, jars)
    d = data(bdir)
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 4)

    rdir = os.path.join(bdir, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(rdir, ignore_errors=True)
    os.makedirs(rdir)
    out_dir = os.path.join(rdir, "out")
    cfg = {"workload": a.workload, "data_dir": d, "out_dir": out_dir,
           "work_dir": rdir, "cpus": cpus, "seconds": a.seconds,
           "trace": bool(a.trace)}
    stmts = None
    if a.workload == "sql_interactive":
        n_users = max(15, int(15_000 * SF))
        stmts, extra = sql_config(a.seed, n_users, a.seconds)
        cfg.update(extra)
    elif a.workload == "batch_pipeline":
        cfg.update({"order": BATCH_JOBS,
                    "warmup": BATCH_WARMUP})
    else:
        ref_s = STREAM_REF_SHARE * a.seconds
        sat_s = STREAM_SAT_SHARE * a.seconds
        n_events = (STREAM_WARM + int(STREAM_REF_RATE * ref_s) + 1 +
                    int(STREAM_SAT_MAX_EPS * sat_s) + STREAM_BURST * STREAM_BURSTS)
        cl = os.path.join(rdir, "changelog.txt")
        with open(cl, "w") as f:
            f.write("\n".join(f"{k} {v} {kind}" for k, v, kind in
                              lib.changelog(a.seed, n_events, STREAM_KEYS)))
        cfg.update({"changelog": cl, "warm_events": STREAM_WARM,
                    "ref_rate": STREAM_REF_RATE, "ref_seconds": ref_s,
                    "sat_seconds": sat_s, "sat_backlog": STREAM_SAT_BACKLOG,
                    "burst_events": STREAM_BURST, "bursts": STREAM_BURSTS})

    res = run_jvm(cp, cfg, rdir, timeout=170)

    # ---- correctness (outside the window and the set-up)
    errors = list(res.get("errors", []))
    if a.workload == "sql_interactive":
        failed, bad = check_sql(d, stmts, out_dir)
        attempted = res["attempted"]
        errors += [f"stmt {i}: {m}" for i, m in bad[:5]]
    elif a.workload == "batch_pipeline":
        bad = check_batch(d, bdir, out_dir, BATCH_JOBS)
        attempted = res["attempted"]
        # a job fails if it errored in the window or its result differs
        failed_jobs = {e.split(":")[0].split(" ")[0] for e in res["errors"]} | {j for j, _ in bad}
        failed = sum(1 for o in res["ops"] if o["job"] in failed_jobs)
        errors += [f"{j}: {m}" for j, m in bad]
    else:
        attempted = res["attempted"]
        failed = res["failed"]

    # ---- end-to-end metrics
    if a.workload == "stream_changelog":
        # at most one latency sample per reference-phase event (runs at
        # the seed commit yield about 6000); the tail rule gives p95 for
        # any planned count from 200
        lat = lib.latency_summary(res["latency_ms"],
                                  int(STREAM_REF_RATE * STREAM_REF_SHARE * a.seconds))
        throughput = lib.commit_rate(res["commits"])
        ref = res["reference"]
        ref_grows = lib.backlog_grows(ref["t"], ref["produced"], ref["processed"],
                                      ref["rate"])
        makespan = lib.median(res["burst_s"])
    else:
        planned = (sql_passes(a.seconds) * N_STATEMENTS
                   if a.workload == "sql_interactive" else len(BATCH_JOBS))
        lat = lib.latency_summary([o["ms"] for o in res["ops"]], planned)
        throughput = len(res["ops"]) / res["window_s"]
        makespan = lib.median(res["makespans_s"])
    metrics = {
        "setup_s": (res["setup_s"], "s"),
        "latency_p50_ms": (lat["p50_ms"], "ms"),
        "latency_p95_ms": (lat["tail_ms"], "ms"),
        "throughput_ops_s": (throughput, "1/s"),
        "makespan_s": (makespan, "s"),
        "live_heap_mb": (res["live_heap_mb"], "MB"),
    }
    report = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    report["failed_frac"] = {"value": failed / max(1, attempted), "unit": "ratio"}
    report["latency_samples"] = {"value": lat["n"], "unit": "count"}
    report["latency_tail_pct"] = {"value": lat["tail_pct"], "unit": "%"}
    if a.workload == "stream_changelog":
        report["sustained_eps"] = {"value": throughput, "unit": "1/s"}
        report["reference_eps"] = {"value": STREAM_REF_RATE, "unit": "1/s"}
        report["reference_backlog_grows"] = {"value": ref_grows, "unit": "bool"}
    report["context_ready_s"] = {"value": res["context_ready_s"], "unit": "s"}
    if "setups_s" in res:
        report["setups_s"] = {"value": res["setups_s"], "unit": "s"}
    if a.workload == "batch_pipeline":
        report["jobs_ms"] = {"value": {o["job"]: round(o["ms"], 1) for o in res["ops"]},
                             "unit": "ms"}
    print("perfbench report " + json.dumps({"workload": a.workload, "seed": a.seed,
                                            "metrics": report, "errors": errors[:10]}))

    if a.trace:
        layer = dict(res.get("per_layer", {}))
        spans_path = os.path.join(out_dir, "spans.jsonl")
        if os.path.exists(spans_path):
            with open(spans_path) as f:
                spans = [json.loads(x) for x in f]
            n_ops = max(1, len({s["op"] for s in spans}))
            for k, v in lib.self_times(spans).items():
                layer[f"self.{k}_ms"] = v / n_ops
            keep = os.path.join(bdir, "traces", f"{a.workload}-seed{a.seed}")
            os.makedirs(keep, exist_ok=True)
            for name in ("spans.jsonl", "storage.jsonl"):
                if os.path.exists(os.path.join(out_dir, name)):
                    shutil.copy(os.path.join(out_dir, name), keep)
        # every declared per-layer metric; a layer the workload does not
        # exercise did no work and reads 0
        out_metrics = {m["name"]: {"value": float(layer.get(m["name"], 0.0)),
                                   "unit": m["unit"]} for m in per_layer}
    else:
        out_metrics = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}

    shutil.rmtree(rdir, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": int(attempted),
                      "failed": int(failed), "metrics": out_metrics}))


if __name__ == "__main__":
    main()
