#!/usr/bin/env python3
"""Run-to-run spread of the benchmark's end-to-end metrics.

    python3 perfbench/steadiness.py --workload <name> --seeds 1-10 [--out file.json]

Runs perfbench/run.py once per seed (untraced, at BENCHMARK.json's
run_seconds), one run after another, and reports for each end-to-end metric
the ten values, their median, and the distance between the first and third
quartile (statistics.quantiles, n=4) as a share of the median, next to the
metric's bound. Run it from the root of a source checkout.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    metrics = bench["end_to_end"]
    runs = []
    for s in seeds(a.seeds):
        t = time.time()
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                            "--workload", a.workload, "--seed", str(s),
                            "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                           cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                           text=True)
        rec = json.loads(p.stdout.strip().splitlines()[-1]) if p.returncode == 0 else None
        runs.append({"seed": s, "exit": p.returncode, "wall_s": time.time() - t, "result": rec})
        print("seed %d exit %d %.0fs %s" % (s, p.returncode, time.time() - t,
              json.dumps(rec["metrics"]) if rec else ""), file=sys.stderr)
    summary = {}
    ok = [r["result"] for r in runs if r["result"]]
    for m in metrics:
        vals = [r["metrics"][m["name"]]["value"] for r in ok if m["name"] in r["metrics"]]
        if len(vals) < 2:
            continue
        q1, med, q3 = statistics.quantiles(vals, n=4)
        summary[m["name"]] = {"values": vals, "median": statistics.median(vals),
                              "iqr_share": (q3 - q1) / statistics.median(vals)
                              if statistics.median(vals) else None,
                              "bound": m.get("bound")}
    report = {"workload": a.workload, "run_seconds": bench["run_seconds"],
              "runs": runs, "summary": summary,
              "all_correct": all(r and r["correct"] and r["failed"] == 0 for r in
                                 [x["result"] for x in runs])}
    for k, v in summary.items():
        print("%-16s median %12.4f  iqr/median %.4f  bound %s"
              % (k, v["median"], v["iqr_share"] or 0, v["bound"]), file=sys.stderr)
    if a.out:
        with open(a.out, "w") as fh:
            json.dump(report, fh, indent=1)


if __name__ == "__main__":
    main()
