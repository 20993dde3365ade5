#!/usr/bin/env python3
"""Benchmark entry point. Run from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark program from the checkout's sources
(sbt, into .bench_build/), generates the workload's inputs from the
seed, runs the benchmark JVM, checks every output against a model computed
here, independently of the engine, and prints one JSON line:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones of BENCHMARK.json, with --trace 1 the
per-layer ones. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import gen  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
TARGET = os.path.join(BUILD, "sbt-target")
CORES = len(os.sched_getaffinity(0))
JVM_HEAP = "3g"
BUILD_TIMEOUT_S = 840
# a whole run must end within 180 s; the JVM gets what input generation
# and the checks (a few seconds) leave of it
RUN_TIMEOUT_S = 160

WORKLOADS = ("webhook_respond", "query_suite")
# Each pass does a fixed amount of work sized from --seconds, not a
# deadline: the same seed then repeats the same operations (and the
# webhook failure count exactly).
WEBHOOK_REQUESTS_PER_S = 0.6
SUITE_S_PER_RUN = 3
# One or two registry queries per family; their order in a pass is
# drawn from the seed. Expected results come from each query's DuckDB
# oracle (oracle_sql.json, copied from the registry).
QUERIES = [
    "q38_hierarchy",                # iterative
    "q10_agg_tpch1", "q22_cte",     # relational
    "l99_chat_stats",               # text operators
]
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def cpu_times():
    """The aggregate `cpu` line of /proc/stat (jiffies), or None."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return None


def run_proc(cmd, timeout, **kw):
    """Run to completion; on timeout kill the whole process group and wait."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except BaseException:
        os.killpg(p.pid, 9)
        p.wait()
        raise


# ---- build -----------------------------------------------------------------

def source_stamp():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True) +
                   glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True) +
                   [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project/build.properties")])
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    if not os.path.isdir(os.path.join(ROOT, "src/main/scala/graft")):
        fail("no engine sources at src/main/scala/graft; run from the root of a checkout")
    stamp_file = os.path.join(TARGET, "stamp")
    cp_file = os.path.join(TARGET, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    # the toolchain resolves offline, from the image's caches only
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g "
                   f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')}")
    with open(os.path.join(BUILD, "build.log"), "w") as log:
        rc = run_proc(["sbt", "--batch", "-Dsbt.server.autostart=false",
                       "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                      BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=log,
                      stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    if rc != 0 or not os.path.exists(cp_file):
        fail(f"build failed (exit {rc}); see .bench_build/build.log")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return open(cp_file).read().strip()


# ---- inputs and models -----------------------------------------------------

def make_inputs(workload, seed, seconds, inputs):
    os.makedirs(inputs, exist_ok=True)
    if workload == "webhook_respond":
        n = max(4, round(seconds * WEBHOOK_REQUESTS_PER_S))
        reqs = gen.webhook_requests(seed, n + 1)
        gen.write_json(os.path.join(inputs, "requests.json"), reqs)
        return {"requests": reqs}
    gen.write_fixture(seed, os.path.join(inputs, "fixture"))
    # each query is timed `runs` times and its fastest run taken
    gen.write_json(os.path.join(inputs, "suite.json"), {
        "queries": gen.permutation(seed, QUERIES),
        "runs": max(3, round(seconds / SUITE_S_PER_RUN))})
    return {}


def check_webhook(model, checks):
    """Every 200 body must be the profile of the request's user over all
    requests up to and including it (request 0 is the set-up one).
    Returns {request: reason} for the bodies that differ."""
    reqs = model["requests"]
    bad = {}
    for c in checks:
        if c["status"] != 200:
            continue
        i = c["i"]
        u = reqs[i]["user_id"]
        mine = [r["value"] for r in reqs[: i + 1] if r["user_id"] == u]
        want = {"user_id": u, "n": len(mine), "total": sum(mine)}
        got = json.loads(c["body"])
        if got != want:
            bad[f"request {i}"] = f"got {got}, want {want}"
    return bad


def check_suite(inputs, work):
    """Each query's result, in every pass, must equal its DuckDB oracle
    over the same fixture, canonicalized and compared as tools/check.py
    does. Returns {query: reason} for the queries that differ."""
    import duckdb
    import pandas as pd
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from check import canon
    oracles = json.load(open(os.path.join(HERE, "oracle_sql.json")))
    fixture = os.path.join(inputs, "fixture")
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(f"create view {t} as select * from read_parquet('{fixture}/{t}.parquet')")
    passes = sorted(glob.glob(os.path.join(work, "results-*")))
    bad = {}
    for q in QUERIES:
        want = canon(con.execute(oracles[q]).fetchdf())
        for results in passes:
            parts = glob.glob(os.path.join(results, q, "*.parquet"))
            got = canon(pd.concat([pd.read_parquet(p) for p in parts], ignore_index=True))
            if list(got.columns) != list(want.columns) or len(got) != len(want):
                bad[q] = (f"spark {list(got.columns)} x {len(got)} rows, "
                          f"oracle {list(want.columns)} x {len(want)} rows")
            elif not (got.equals(want) or got.astype(str).equals(want.astype(str))):
                bad[q] = f"values differ from the oracle ({len(got)} rows)"
    return bad


# ---- metrics ---------------------------------------------------------------

def quantile(xs, q):
    if not xs:
        return 0.0
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo, hi = int(pos), min(int(pos) + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def metrics(workload, res, spec, trace, failed):
    u = res["untraced"]
    ops, ok = u["ops_ms"], u["ok_ms"]
    # latency_ms: the webhook's lower-quartile POST round trip, failed
    # requests included (the median moves with the seed's success count,
    # see README.md); the suite's pass, the sum of its per-query minimums
    def latency(p):
        return quantile(p["ops_ms"], 0.25) if workload == "webhook_respond" else p["pass_s"] * 1000

    e2e = {"setup_s": statistics.median(res["setup_s"]), "latency_ms": latency(u)}
    if not trace:
        return {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]} for m in spec["end_to_end"]}
    t = res["traced"]
    layer = dict(t["layers"])
    layer.update({
        "pass_s": u["pass_s"],
        "heap_peak_mb": res["heap_peak_mb"],
        "failed_frac": failed / max(1, u["attempted"]),
        "op_p50_ms": quantile(ops, 0.5),
        "op_p90_ms": quantile(ops, 0.9),
        "host.cpu_steal_frac": res["steal_frac"],
        # the traced pass against the untraced one before it, same work
        "trace.overhead_frac": latency(t) / latency(u) - 1.0,
    })
    if workload == "webhook_respond":
        layer.update({"webhook_p50_ms": quantile(ok, 0.5), "webhook_p90_ms": quantile(ok, 0.9)})
    else:
        layer["suite_s"] = u["pass_s"]
    # a layer the workload does not pass through reads 0
    return {m["name"]: {"value": float(layer.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in spec["per_layer"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found; run from the root of a checkout")
    spec = json.load(open(spec_path))
    # wall time per phase, to stderr: where a run's budget goes
    t0 = time.monotonic()

    def phase(name):
        nonlocal t0
        t1 = time.monotonic()
        print(f"perfbench: {name} {t1 - t0:.1f} s", file=sys.stderr)
        t0 = t1

    cp = build()
    phase("build")

    work = os.path.join(BUILD, "runs", f"{a.workload}-seed{a.seed}-trace{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    model = make_inputs(a.workload, a.seed, a.seconds, inputs)
    phase("inputs")
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # -Xms = -Xmx: a heap that never resizes, one less source of noise
    cmd = (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+UseG1GC", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={work}"] + opens +
           ["-cp", cp, "perfbench.Main", a.workload, inputs, work, str(CORES), str(a.trace)])
    cpu0 = cpu_times()
    with open(os.path.join(work, "jvm.log"), "w") as log:
        rc = run_proc(cmd, RUN_TIMEOUT_S, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                      stdin=subprocess.DEVNULL)
    if rc != 0:
        fail(f"benchmark JVM exited {rc}; see {os.path.relpath(work, ROOT)}/jvm.log")
    res = json.load(open(os.path.join(work, "result.json")))
    phase("jvm")
    # the share of CPU time the hypervisor gave to other guests: a run
    # with a high share reads slow for reasons outside the program
    cpu1 = cpu_times()
    d = [b - a for a, b in zip(cpu0, cpu1)] if cpu0 and cpu1 and len(cpu1) > 7 else None
    res["steal_frac"] = d[7] / max(1, sum(d)) if d else 0.0
    print(f"perfbench: cpu steal {res['steal_frac']:.1%} during the jvm phase", file=sys.stderr)

    # a wrong result is a failed operation; every pass is checked, the
    # untraced one is counted
    u = res["untraced"]
    failed = u["failed"]
    bad = []
    if a.workload == "webhook_respond":
        for k in ("untraced", "traced"):
            if k in res:
                wrong = check_webhook(model, res[k]["checks"])
                failed += len(wrong) if k == "untraced" else 0
                bad += [f"{k} {op}: {why}" for op, why in wrong.items()]
    else:
        wrong = check_suite(inputs, work)
        failed += len(wrong)
        bad += [f"{q}: {why}" for q, why in wrong.items()]
    phase("check")
    for b in bad:
        print(f"MISMATCH {b}", file=sys.stderr)
    out = {"correct": not bad, "attempted": u["attempted"], "failed": failed,
           "metrics": metrics(a.workload, res, spec, a.trace, failed)}
    # keep the logs and spans, drop inputs and warehouses
    for d in glob.glob(os.path.join(work, "*")):
        if os.path.isdir(d):
            shutil.rmtree(d, ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
