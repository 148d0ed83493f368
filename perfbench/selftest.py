#!/usr/bin/env python3
"""Tests of the benchmark itself. Every workload runs at a tiny size and must
pass all its output checks; then each check runs against a planted wrong
expectation and must fail, so that no check is one that cannot fail.

    python3 perfbench/selftest.py [case ...]

A case is `workload` or `workload:plant`; with none given, all run (about
ten minutes on four cores).
"""
import json
import os
import subprocess
import sys

import build

# (workload, planted defect, the check that must catch it)
CASES = [
    ("ingest_batch", None, None),
    ("ingest_stream", None, None),
    ("query_board", None, None),
    ("ingest_batch", "tombstone", "rows"),
    ("ingest_batch", "checksum", "checksum"),
    ("ingest_batch", "unique", "unique_ids"),
    ("ingest_batch", "checkpoint", "checkpoint"),
    ("ingest_batch", "columns", "columns"),
    ("ingest_batch", "tables", "tables"),
    ("ingest_stream", "tombstone", "checksum"),
    ("ingest_stream", "checkpoint", "checkpoint"),
    ("ingest_stream", "fresh", "fresh_read"),
    ("query_board", "fingerprint", "fingerprint"),
]
SEED = 7


def run_case(workload, plant):
    cmd = [sys.executable, os.path.join(build.HERE, "run.py"), "--workload", workload,
           "--seed", str(SEED), "--seconds", "1", "--trace", "0", "--tiny"]
    if plant:
        cmd += ["--plant", plant]
    proc = subprocess.run(cmd, cwd=build.ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                          text=True, timeout=600)
    tag = f"{workload}-s{SEED}-t0-tiny{'-' + plant if plant else ''}"
    detail_path = os.path.join(build.BUILD, "results", f"{tag}.json")
    if not os.path.exists(detail_path):
        return proc.returncode, None, {"run": proc.stderr[-2000:]}
    with open(detail_path) as f:
        detail = json.load(f)
    last = json.loads(proc.stdout.strip().splitlines()[-1])
    failed = {c["check"]: c["detail"] for c in detail["checks_failed"]}
    return proc.returncode, last, failed


def main():
    wanted = sys.argv[1:]
    problems = []
    for workload, plant, catcher in CASES:
        name = workload + (f":{plant}" if plant else "")
        if wanted and name not in wanted:
            continue
        code, last, failed = run_case(workload, plant)
        if plant is None:
            ok = code == 0 and last is not None and last["correct"] and not failed
            why = "" if ok else f"exit {code}, failed checks {failed}"
        else:
            ok = code != 0 and last is not None and not last["correct"] and catcher in failed
            why = "" if ok else f"exit {code}, planted defect not caught by {catcher}: {failed}"
        print(f"{'ok  ' if ok else 'FAIL'} {name} {why}".rstrip(), flush=True)
        if not ok:
            problems.append(name)
    if problems:
        sys.exit(f"{len(problems)} case(s) failed: {', '.join(problems)}")


if __name__ == "__main__":
    main()
