"""Self-tests of the benchmark itself:

1. the same seed writes byte-identical ingest inputs, a different seed
   writes different ones (the suite's input takes no seed);
2. an injected wrong result and an injected throwing op are each
   reported as a failed op with its cause, and the command exits
   non-zero;
3. every metric a run prints is declared in BENCHMARK.json, with the
   same unit, and every declared metric is printed.

    python3 perfbench/run.py --selftest
"""
import json
import os
import shutil
import subprocess
import sys

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work", "selftest")


def generated(fn, seed):
    d = os.path.join(WORK, "gen-%s-%d" % (fn.__name__, seed))
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    fn(d, seed)
    return gen.tree_digest(d)


def ingest(d, s):
    gen.ingest(d, s, base_rows=500, batches=12, batch_rows=100,
               reads=["cb43_q00", "cb43_q01"])


def run(*args):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py")] + list(args),
                       cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    return p.returncode, lines, json.loads(lines[-1]) if lines else None


def main():
    failures = []

    def expect(ok, what):
        print(("ok   " if ok else "FAIL ") + what, flush=True)
        if not ok:
            failures.append(what)

    a, b, c = generated(ingest, 7), generated(ingest, 7), generated(ingest, 8)
    expect(a == b, "ingest: same seed, identical bytes")
    expect(a != c, "ingest: different seed, different bytes")

    base = ["--workload", "ingest_mutate", "--seed", "3", "--seconds", "2"]
    for kind, cause in [("wrong", "differs from the DuckDB replay"),
                        ("throw", "IllegalStateException: injected throwing op")]:
        rc, lines, res = run(*base, "--trace", "0", "--inject", kind)
        expect(rc != 0, "injected %s op: non-zero exit" % kind)
        # a write that throws leaves the table short of its batch, so the
        # reads after it fail their check too
        expect(res is not None and not res["correct"] and res["failed"] >= 1,
               "injected %s op: reported as failed" % kind)
        expect(any(l.startswith("# FAILED") and cause in l for l in lines),
               "injected %s op: cause printed (%s)" % (kind, cause))

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for trace, key in [("0", "end_to_end"), ("1", "per_layer")]:
        declared = {m["name"]: m["unit"] for m in bench[key]}
        rc, _, res = run(*base, "--trace", trace)
        expect(rc == 0 and res["correct"] and res["failed"] == 0,
               "clean run (trace %s): correct, nothing failed" % trace)
        printed = {k: v["unit"] for k, v in res["metrics"].items()}
        expect(printed == declared,
               "trace %s metrics match BENCHMARK.json %s (extra %s, missing %s)"
               % (trace, key, sorted(set(printed) - set(declared)),
                  sorted(set(declared) - set(printed))))

    shutil.rmtree(WORK, ignore_errors=True)
    print("%d self-test failure(s)" % len(failures))
    return 1 if failures else 0
