#!/usr/bin/env python3
"""Steadiness check: run one workload once per seed and report, for every
end-to-end metric, the median and the spread (distance between the first
and third quartile, as a share of the median) next to the metric's bound.

Usage, from the repository root:

    python3 graftbench/steady.py --workload archive --seeds 1-10 \
        --out graftbench/runs/archive.jsonl

Every run's result line and context line are appended to --out as one JSON
object per line, so the readings behind a summary stay on record.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def summarize(spec, rows):
    print(f"{'metric':<14} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8} {'bound':>6}")
    for m in spec["end_to_end"]:
        vals = [r["result"]["metrics"][m["name"]]["value"] for r in rows]
        if len(vals) < 2:
            continue
        q1, med, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med
        flag = "" if m["name"] == "setup_s" or spread < m["bound"] / 3 else "  <-- over bound/3"
        print(f"{m['name']:<14} {med:12.4f} {q1:12.4f} {q3:12.4f} {spread:8.4f} {m['bound']:6.2f}{flag}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,8")
    ap.add_argument("--out", required=True)
    ap.add_argument("--summary-only", action="store_true",
                    help="summarize the readings already in --out")
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    if not a.summary_only:
        os.makedirs(os.path.dirname(a.out) or ".", exist_ok=True)
        for s in seeds(a.seeds):
            t0 = time.time()
            p = subprocess.run(
                [sys.executable, os.path.join(os.path.dirname(__file__), "run.py"),
                 "--workload", a.workload, "--seed", str(s),
                 "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or len(lines) < 2:
                print(f"seed {s}: run failed (exit {p.returncode})", file=sys.stderr)
                continue
            row = {"workload": a.workload, "seed": s, "wall_s": round(time.time() - t0, 1),
                   "info": json.loads(lines[-2])["info"], "result": json.loads(lines[-1])}
            with open(a.out, "a") as f:
                f.write(json.dumps(row, sort_keys=True) + "\n")
            print(f"seed {s}: wall {row['wall_s']}s correct={row['result']['correct']}",
                  file=sys.stderr)
    with open(a.out) as f:
        rows = [json.loads(l) for l in f if l.strip()]
    rows = [r for r in rows if r["workload"] == a.workload]
    print(f"{a.workload}: {len(rows)} runs, all correct: "
          f"{all(r['result']['correct'] and r['result']['failed'] == 0 for r in rows)}")
    summarize(spec, rows)


if __name__ == "__main__":
    main()
