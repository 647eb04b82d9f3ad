#!/usr/bin/env python3
"""Benchmark entry point for the graft library.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <n> --trace <0|1>
    python3 perfbench/run.py --selftest

Runs one workload from the root of a checkout: builds the harness and
the library from source on first use (perfbench/build.sbt), writes the
seeded inputs into a per-run work dir, runs the harness once at
local[nproc] with a heap sized from MemTotal, checks every timed
operation's output, and prints a header (settings, input sizes, sample
counts, failures with their cause) followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
metrics of a separately traced run. `--seconds` sizes the fixed amount
of work a run does (about that many seconds of timed work on 4 cores),
so two versions of the library always do the same work. Exits non-zero
when any operation failed or produced a wrong output.

Workloads, metrics and layers: see perfbench/README.md.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LIB = os.path.join(ROOT, "src", "main", "scala")
STATE = os.path.join(HERE, ".state")
sys.path.insert(0, HERE)

DEADLINE_S = 175
WORKLOADS = ["suite_sf01", "ingest_mutate"]
# Every 4th ClickBench query: a fixed read mix, so every seed reads the
# same queries (the seed orders them).
INGEST_READS = ["cb43_q%02d" % i for i in range(0, 43, 4)]
# The panel's queries whose work is in the ops dedup operators
# (ops/Text LSH and substring spans, ops/Graphs, ops/SemDedup).
DEDUP_QUERIES = {"pipe_minhash_lsh", "pipe_dedup_components", "pipe_semdedup",
                 "pipe_substring_dedup"}
E2E = {"setup_s": "s", "total_s": "s", "op_geomean_s": "s", "op_tail_s": "s"}
# op_tail_s is the geometric mean of the slowest TAIL_OPS operations
TAIL_OPS = 10
JDK17_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
               "java.base/java.lang.reflect", "java.base/java.io",
               "java.base/java.net", "java.base/java.nio", "java.base/java.util",
               "java.base/java.util.concurrent",
               "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
               "java.base/sun.nio.cs", "java.base/sun.security.action",
               "java.base/sun.util.calendar"]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def fixture_dir():
    """The sf0.1 fixture the declared queries are written against:
    $SPARK_GRAFT_SF_DIR, else the directory TESTDATA.md lists for 0.1."""
    if os.environ.get("SPARK_GRAFT_SF_DIR"):
        return os.environ["SPARK_GRAFT_SF_DIR"]
    with open(os.path.join(ROOT, "TESTDATA.md")) as f:
        for line in f:
            cells = [c.strip(" `") for c in line.split("|")]
            if len(cells) > 2 and cells[1] == "0.1":
                return cells[2].rstrip("/")
    raise SystemExit("TESTDATA.md lists no sf 0.1 directory; set SPARK_GRAFT_SF_DIR")


# ---- build -----------------------------------------------------------

def source_stamp():
    h = hashlib.sha256()
    # the library's build.sbt names the Spark jars the harness build uses
    roots = [LIB, os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles harness + library once per source state; returns the
    runtime classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(STATE, "classpath.txt")
    stamp_file = os.path.join(STATE, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    log("building harness and library with sbt ...")
    # offline, like the tier-1 build: every dependency is in the local caches
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           "-Dsbt.repository.config=" + repos)
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, capture_output=True, text=True, timeout=850,
                       stdin=subprocess.DEVNULL, env=env)
    lines = [l.strip() for l in p.stdout.splitlines()
             if "scala-2.13" in l and "classes" in l and ":" in l and " " not in l.strip()]
    if p.returncode != 0 or not lines:
        log(p.stdout[-4000:] + p.stderr[-4000:])
        raise SystemExit("build failed")
    os.makedirs(STATE, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


# ---- machine sizing --------------------------------------------------

def heap():
    """Half of MemTotal, clamped to 2..8 GB (the tier-1 test sizing)."""
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return "%dg" % min(8, max(2, kb // 2097152))


# ---- workload sizing (fixed work per --seconds) ----------------------

def panel():
    with open(os.path.join(HERE, "suite_panel.txt")) as f:
        return [l.split()[0] for l in f if l.strip() and not l.startswith("#")]


def prepare(workload, work, seed, seconds, sf):
    """Writes the seeded inputs; returns (checker state, input sizes,
    harness args)."""
    import gen
    if workload == "suite_sf01":
        order = gen.suite_order(work, panel())
        return None, {"fixture": sf, "queries": len(order)}, ["--sf", sf]
    if workload == "ingest_mutate":
        script, sizes = gen.ingest(work, seed, base_rows=20000,
                                   batches=max(2, round(seconds / 10)),
                                   batch_rows=2000, reads=INGEST_READS)
        return script, sizes, ["--sf", sf]
    raise SystemExit("unknown workload %s" % workload)


# ---- harness ---------------------------------------------------------

def run_harness(cp, workload, work, trace, args, inject, budget):
    os.makedirs(os.path.join(work, "tmp"))
    cmd = [os.path.join(os.environ["JAVA_HOME"], "bin", "java")
           if os.environ.get("JAVA_HOME") else "java",
           "-Xmx" + heap(), "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-Dspark.sql.legacy.parquet.nanosAsLong=true"]
    for o in JDK17_OPENS:
        cmd += ["--add-opens", o + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", workload, "--work", work,
            "--trace", "1" if trace else "0"] + args
    if inject:
        cmd += ["--inject", inject]
    logf = os.path.join(work, "harness.log")
    with open(logf, "w") as out:
        # Spark would put its scratch space there instead of the work dir
        env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
        proc = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True, env=env)
        try:
            rc = proc.wait(timeout=max(10, budget))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = "timeout"
    res = os.path.join(work, "result.json")
    if rc != 0 or not os.path.exists(res):
        with open(logf) as f:
            log(f.read()[-6000:])
        raise SystemExit("harness failed (%s)" % rc)
    with open(res) as f:
        return json.load(f)


# ---- checks ----------------------------------------------------------

def check(workload, work, result, state, sf):
    """(op index -> cause) for every failed or wrong op."""
    import check as chk
    bad = {i: op["error"] for i, op in enumerate(result["ops"]) if op["error"]}
    if workload == "suite_sf01":
        fails = chk.check_suite(work, result, sf, os.path.join(STATE, "oracle_cache.json"))
    else:
        fails = chk.check_ingest(work, result, state)
    for i, cause in fails:
        bad.setdefault(i, cause)
    return bad


# ---- metrics ---------------------------------------------------------

def pct(xs, q):
    s = sorted(xs)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def op_times(result):
    """One latency per operation of the script: the median over the
    rounds that ran it (a workload without rounds runs each once)."""
    rounds = {}
    for o in result["ops"]:
        rounds.setdefault(o["round"], []).append(o["build_s"] + o["exec_s"])
    return [statistics.median(ts) for ts in zip(*rounds.values())]


def e2e(result):
    """Every operation enters each latency figure: over five runs per
    workload the geometric mean spread 13% against the median's 22-24%,
    and the mean of the ten slowest operations 11-15% against 16-18% for
    the p(1 - 10/n) latency, which rests on one operation. The tail mean
    is geometric so that no single slow operation carries it."""
    times = op_times(result)
    return {"setup_s": statistics.median(result["setup_s"]),
            "total_s": sum(times),
            "op_geomean_s": statistics.geometric_mean(times),
            "op_tail_s": statistics.geometric_mean(sorted(times)[-TAIL_OPS:])}


def by_kind(result):
    kinds = {}
    for o in result["ops"]:
        kinds.setdefault(o["kind"], []).append(o["build_s"] + o["exec_s"])
    return kinds


def layers(workload, result, sizes):
    """Per-layer metrics: the harness's counters plus the workload
    ratios computed here (zero where a workload has no such layer)."""
    m = dict(result["layers"])
    x = result["extra"]
    m["trace.total_s"] = e2e(result)["total_s"]
    m["ops.dedup_s"] = sum(o["build_s"] + o["exec_s"] for o in result["ops"]
                           if o["name"] in DEDUP_QUERIES)
    m["jvm.peak_heap_mb"] = result["peak_heap_mb"]
    m["sink.files_written"] = x.get("snapshot_files_written", 0)
    m["ingest.write_amp"] = (x["snapshot_bytes_written"]
                             / (sizes["inserted_bytes"] * x["rounds"])
                             if workload == "ingest_mutate" else 0.0)
    m["ingest.space_amp"] = (x["live_bytes"] / x["once_bytes"]
                             if workload == "ingest_mutate" else 0.0)
    return m


def metric_line(metrics, units):
    return {k: {"value": v, "unit": units[k]} for k, v in sorted(metrics.items())}


def layer_units():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


# ---- main ------------------------------------------------------------

def run(workload, seed, seconds, trace, inject=None):
    t_start = time.time()
    if not os.path.isfile(os.path.join(LIB, "graft", "SparkEntry.scala")):
        raise SystemExit("library sources not found under %s: run from a checkout" % LIB)
    if workload not in WORKLOADS:
        raise SystemExit("unknown workload %s (one of %s)" % (workload, ", ".join(WORKLOADS)))
    sf = fixture_dir()
    if not os.path.isdir(sf):
        raise SystemExit("fixture directory %s not found" % sf)
    cp = build()
    t_built = time.time()
    work = os.path.join(HERE, ".work", workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t0 = time.time()
        state, sizes, args = prepare(workload, work, seed, seconds, sf)
        gen_s = time.time() - t0
        budget = DEADLINE_S - (time.time() - t_start) + (t_built - t_start) - 15
        result = run_harness(cp, workload, work, trace, args, inject, budget)
        bad = check(workload, work, result, state, sf)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    ops = result["ops"]
    n = len(ops)
    print("# workload %s seed %d seconds %d trace %d" % (workload, seed, seconds, trace))
    print("# client: closed loop, 1 client, local[%d], heap %s (max %d MB)"
          % (result["header"]["cpus"], heap(), result["header"]["heap_max_mb"]))
    print("# spark confs: %s" % json.dumps(result["header"]["spark_confs"], sort_keys=True))
    print("# tuned defaults: %s" % json.dumps(result["header"]["tuned_defaults"], sort_keys=True))
    print("# inputs: %s (generated in %.2f s)" % (json.dumps(sizes, sort_keys=True), gen_s))
    rounds = len({o["round"] for o in ops})
    print("# samples: ops %d in %d round(s), each op's latency the median over rounds;"
          " set-ups %d; tail: the %d slowest ops"
          % (n, rounds, len(result["setup_s"]), min(len(op_times(result)), TAIL_OPS)))
    for kind, ts in sorted(by_kind(result).items()):
        print("# %-8s n=%-4d p50 %.4f s  p90 %.4f s  sum %.3f s"
              % (kind, len(ts), statistics.median(ts), pct(ts, 0.9), sum(ts)))
    print("# failed_ratio %.4f (%d of %d ops)" % (len(bad) / max(n, 1), len(bad), n))
    for i, cause in sorted(bad.items()):
        print("# FAILED op %d %s/%s: %s" % (i, ops[i]["kind"], ops[i]["name"], cause))
    if trace:
        metrics = metric_line(layers(workload, result, sizes), layer_units())
        print("# traced end-to-end: %s" % json.dumps(
            {k: round(v, 4) for k, v in e2e(result).items()}, sort_keys=True))
    else:
        metrics = metric_line(e2e(result), E2E)
    print(json.dumps({"correct": not bad, "attempted": n, "failed": len(bad),
                      "metrics": metrics}))
    sys.stdout.flush()
    return 0 if not bad else 1


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--inject", choices=["wrong", "throw"])
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if a.selftest:
        import selftest
        return selftest.main()
    if not a.workload:
        ap.error("--workload is required")
    return run(a.workload, a.seed, a.seconds, a.trace, a.inject)


if __name__ == "__main__":
    sys.exit(main())
