#!/usr/bin/env python3
"""Regenerates perfbench/board.json: the query sample the query_board
workload times and the result fingerprint of every board query.

    python3 perfbench/make_fingerprints.py

1. graft.Verify dumps every SparkEntry.queries result on perfbench/data/sf0.01;
2. tools/check_oracle.py compares each dump with its DuckDB oracle, and the
   script stops unless every query matches exactly;
3. the benchmark fingerprints each dump the way it fingerprints live results.

Run it only when a change is meant to alter query results or the board, and
say so in the change.
"""
import json
import os
import shutil
import subprocess
import sys

import build
import run

DATA = os.path.join(build.HERE, "data", "sf0.01")
# The sample is systematic over the board's latency order, so it spans the
# fast, middle and slow queries alike: every STRIDE-th query, starting at
# the middle of the first stratum, of the committed full-board timings.
TIMINGS = os.path.join(build.ROOT, "bench_queries.json")
STRIDE = 24


def java(classes, *args, cwd):
    cmd = [shutil.which("java") or "java"] + run.JVM_OPTS + [
        "-cp", build.classpath(classes)] + list(args)
    return subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                          text=True, check=True).stdout


def main():
    classes = build.ensure_built()
    work = os.path.join(build.BUILD, "fingerprints")
    shutil.rmtree(work, ignore_errors=True)
    dumps = os.path.join(work, "dumps")
    os.makedirs(dumps)
    java(classes, "graft.Verify", DATA, dumps, cwd=work)
    oracle = subprocess.run([sys.executable, os.path.join(build.ROOT, "tools", "check_oracle.py"),
                             DATA, dumps], stdout=subprocess.PIPE, text=True)
    print(oracle.stdout.strip().splitlines()[-1])
    if oracle.returncode != 0:
        sys.exit("oracle mismatch; fingerprints not written")
    out = java(classes, "graftbench.Main", "--dumps", dumps, "--cpus",
               str(len(os.sched_getaffinity(0))), "--work", work, cwd=work)
    prints = json.loads(next(l for l in out.splitlines() if l.startswith("FINGERPRINTS "))[13:])
    with open(TIMINGS) as f:
        timings = json.load(f)["queries"]
    by_latency = sorted(prints, key=lambda q: (timings[q], q))
    sample = sorted(by_latency[STRIDE // 2::STRIDE])
    board = {
        "data": "data/sf0.01",
        "oracle": f"{oracle.stdout.strip().splitlines()[-1].strip()} (tools/check_oracle.py)",
        "sample_rule": f"every {STRIDE}th query, from the {STRIDE // 2 + 1}th, in the latency order "
                       "of the bench_queries.json full-board run",
        "sample": sample,
        "fingerprints": prints,
    }
    with open(os.path.join(build.HERE, "board.json"), "w") as f:
        json.dump(board, f, indent=1, sort_keys=True)
        f.write("\n")
    shutil.rmtree(work, ignore_errors=True)
    print(f"{len(prints)} fingerprints, {len(sample)} sampled queries")


if __name__ == "__main__":
    main()
