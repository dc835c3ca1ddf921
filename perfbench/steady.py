#!/usr/bin/env python3
"""Run the lake benchmark on several seeds and report each metric's spread.

    python3 perfbench/steady.py --workload llm_curate --seeds 1-10 [--seconds 6] [--out FILE]

For every end-to-end metric it prints the median over the runs and the
distance between the first and third quartile as a share of the median
(`statistics.quantiles(values, n=4)`), the figure each metric's bound in
BENCHMARK.json is set against. `--out` writes the runs and the summary as
JSON; each run also keeps the figures it printed but did not put in its
JSON (per-class medians, fail_ratio, ann_recall_at_10) under `printed`.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,8")
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--out")
    a = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    seconds = a.seconds or spec["run_seconds"]
    runs = []
    for s in seeds(a.seeds):
        proc = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload",
                               a.workload, "--seed", str(s), "--seconds", str(seconds)],
                              stdout=subprocess.PIPE, text=True)
        if proc.returncode != 0:
            sys.exit(f"seed {s}: run failed with code {proc.returncode}")
        lines = proc.stdout.strip().splitlines()
        result = json.loads(lines[-1])
        result["seed"] = s
        result["printed"] = {l.split()[1]: float(l.split()[2]) for l in lines
                             if l.startswith("metric ")
                             and l.split()[1] not in result["metrics"]}
        runs.append(result)
        print(f"seed {s}: correct={result['correct']} " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()), flush=True)
    summary = {}
    for m in spec["end_to_end"]:
        values = [r["metrics"][m["name"]]["value"] for r in runs]
        q1, med, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else values * 3
        summary[m["name"]] = {"median": med, "spread": (q3 - q1) / med if med else 0.0,
                              "bound": m["bound"]}
        print(f"{m['name']:<20} median {med:12.4f}  spread {summary[m['name']]['spread']:.3f}"
              f"  bound {m['bound']}")
    if a.out:
        with open(a.out, "w") as fh:
            json.dump({"workload": a.workload, "seconds": seconds, "runs": runs,
                       "summary": summary}, fh, indent=1)


if __name__ == "__main__":
    main()
