#!/usr/bin/env python3
"""Run one workload of the lake benchmark and print its result.

    python3 perfbench/run.py --workload etl_commit --seed 1 --seconds 5 --trace 0

Builds the graft library and the benchmark program if needed (see build.py),
then runs `lakebench.Main` in one JVM at local[<cores>]. Everything it writes stays
under `.bench_build/` and `.bench_work/` at the root of the checkout; the
per-run work directory is removed at the end. The program's output is passed
through; the last line is one JSON object with `correct`, `attempted`,
`failed` and `metrics`. A traced run also writes its spans to
`.bench_work/spans/<workload>-seed<seed>.jsonl`.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
import build  # noqa: E402

WORKLOADS = ("star_scan", "etl_commit", "llm_curate")
JAVA_TIMEOUT_S = 170


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    jar = build.ensure()
    cores = len(os.sched_getaffinity(0))
    work_root = os.path.join(build.ROOT, ".bench_work")
    work = os.path.join(work_root, f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = build.java_command(jar, work) + [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--data", os.path.join(build.BENCH, "data"), "--work", work,
        "--cores", str(cores)]
    if a.trace:
        cmd += ["--spans", os.path.join(work_root, "spans", f"{a.workload}-seed{a.seed}.jsonl")]

    log = os.path.join(work_root, f"{a.workload}-{os.getpid()}.log")
    t0 = time.time()
    try:
        with open(log, "w") as err:
            proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                                  timeout=JAVA_TIMEOUT_S, cwd=work)
    except subprocess.TimeoutExpired:
        sys.exit(f"run: {a.workload} did not finish within {JAVA_TIMEOUT_S} s (log: {log})")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    lines = proc.stdout.splitlines()
    results = [l[len("RESULT "):] for l in lines if l.startswith("RESULT ")]
    if proc.returncode != 0 or not results:
        sys.stdout.write("\n".join(lines) + "\n")
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        sys.exit(f"run: {a.workload} failed with code {proc.returncode}")
    result = json.loads(results[-1])
    for l in lines:
        if not l.startswith("RESULT "):
            print(l)
    if result["failed"]:
        print(f"[lakebench] stack traces of the failed operations: {log}")
    else:
        os.remove(log)
    print(f"[lakebench] wall {time.time() - t0:.1f} s")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
