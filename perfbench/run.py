#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload ingest_batch|ingest_stream|query_board \\
        --seed N --seconds S --trace 0|1 [--tiny] [--plant CHECK]

Run from the root of a checkout. Builds the program from source (see
build.py), runs the workload in one JVM on Spark local[n] with n = the CPUs
this process may use, checks the program's outputs, and prints as the last
line of standard output one JSON object with the keys correct, attempted,
failed and metrics: the end_to_end metrics of BENCHMARK.json with --trace 0,
its per_layer metrics with --trace 1. The full result, with provenance, goes
to .bench_build/results/; a traced run also writes its spans there.

Exits 0 when every output check passed, 1 when one failed, 2 on bad usage
or a failed build; a run that cannot measure prints no result line.
--tiny and --plant exist for selftest.py.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

import build

HERE = build.HERE
ROOT = build.ROOT
RUN_LIMIT_S = 170  # the whole run, build included, must end within 180 s

JVM_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")] + [
    # a fixed heap and young generation keep the resident high-water mark
    # from following the collector's adaptive sizing
    "-Xms3g", "-Xmx3g", "-Xmn768m",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]


def fail(msg, code=2):
    print(msg, file=sys.stderr)
    sys.exit(code)


def git_sha():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        return None


def main():
    t_start = time.monotonic()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--tiny", action="store_true")
    ap.add_argument("--plant")
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found; run from the root of a checkout")
    with open(spec_path) as f:
        spec = json.load(f)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload}")
    wanted = spec["per_layer" if a.trace else "end_to_end"]

    try:
        classes = build.ensure_built()
    except build.BuildError as e:
        fail(f"build failed: {e}")

    cpus = len(os.sched_getaffinity(0))
    tag = f"{a.workload}-s{a.seed}-t{a.trace}{'-tiny' if a.tiny else ''}{'-' + a.plant if a.plant else ''}"
    results = os.path.join(build.BUILD, "results")
    work = os.path.join(build.BUILD, "work", f"{tag}-{os.getpid()}")
    os.makedirs(results, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = [shutil.which("java") or "java"] + JVM_OPTS + [
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "-cp", build.classpath(classes), "graftbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--cpus", str(cpus), "--work", work,
        "--board", os.path.join(HERE, "board.json")]
    if a.tiny:
        cmd.append("--tiny")
    if a.plant:
        cmd += ["--plant", a.plant]
    spans = os.path.join(results, f"{tag}-spans.json")
    if a.trace:
        cmd += ["--spans", spans]

    log_path = os.path.join(results, f"{tag}.log")
    budget = RUN_LIMIT_S - (time.monotonic() - t_start)
    try:
        with open(log_path, "w") as log:
            proc = subprocess.run(cmd, cwd=work, stdout=subprocess.PIPE, stderr=log,
                                  text=True, timeout=budget)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_LIMIT_S}s; log in {os.path.relpath(log_path, ROOT)}", 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    line = next((l for l in reversed(proc.stdout.splitlines()) if l.startswith("GRAFTBENCH ")), None)
    if line is None:
        fail(f"no result (exit {proc.returncode}); log in {os.path.relpath(log_path, ROOT)}", 1)
    res = json.loads(line[len("GRAFTBENCH "):])

    metrics = {}
    missing = []
    for m in wanted:
        got = res["metrics"].get(m["name"])
        if got is None or got["value"] is None:
            missing.append(m["name"])
        else:
            metrics[m["name"]] = {"value": got["value"], "unit": m["unit"]}
    correct = res["correct"] and not missing
    detail = dict(res)
    detail["provenance"] = {
        "git_sha": git_sha(), "source_sha256": build.program_digest(), "nproc": cpus,
        "master": f"local[{cpus}]", "spark": res["info"].get("spark"),
        "jdk": res["info"].get("jdk"), "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "workload": a.workload, "input": res["info"].get("input"),
        "samples": res["info"].get("samples"),
        "why": next(w["why"] for w in spec["workloads"] if w["name"] == a.workload)}
    detail["missing_metrics"] = missing
    with open(os.path.join(results, f"{tag}.json"), "w") as f:
        json.dump(detail, f, indent=1)

    for c in res["checks_failed"][:20]:
        print(f"check failed: {c['check']}: {c['detail']}", file=sys.stderr)
    if missing:
        print(f"metrics not measured: {', '.join(missing)}", file=sys.stderr)
    print(json.dumps({"provenance": detail["provenance"], "checks_passed": res["checks_passed"]}))
    print(json.dumps({"correct": correct, "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
