#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --seeds 1-10 [--workload sweep ...]

Runs each workload once per seed (untraced, BENCHMARK.json's
run_seconds) and prints, per metric, the median and the spread: the
distance between the first and third quartile as a share of the median
(statistics.quantiles, n=4), next to the metric's bound. Raw results are
appended to .bench_build/spread.jsonl.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workload", action="append")
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    workloads = a.workload or [w["name"] for w in bench["workloads"]]
    log = os.path.join(".bench_build", "spread.jsonl")
    bad = False
    for w in workloads:
        values = {m["name"]: [] for m in bench["end_to_end"]}
        for s in seeds(a.seeds):
            r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", str(s), "--seconds", str(bench["run_seconds"]),
                                "--trace", "0"], stdout=subprocess.PIPE, text=True)
            if r.returncode != 0:
                print(f"{w} seed {s}: exit {r.returncode}")
                bad = True
                continue
            lines = r.stdout.strip().splitlines()
            res = json.loads(lines[-1])
            os.makedirs(".bench_build", exist_ok=True)
            with open(log, "a") as f:
                f.write(json.dumps({"workload": w, "seed": s, "result": res,
                                    "info": json.loads(lines[-2])["perfbench"]}) + "\n")
            if not res["correct"] or res["failed"]:
                print(f"{w} seed {s}: correct={res['correct']} failed={res['failed']}")
                bad = True
            for k in values:
                values[k].append(res["metrics"][k]["value"])
        print(f"== {w}")
        for m in bench["end_to_end"]:
            v = values[m["name"]]
            if len(v) < 2:
                continue
            q1, _, q3 = statistics.quantiles(v, n=4)
            med = statistics.median(v)
            spread = (q3 - q1) / med
            flag = "" if spread < m["bound"] / 3 else "  (above a third of the bound)"
            print(f"  {m['name']:<14} median {med:12.4f} {m['unit']:<4} spread {spread:6.3f}"
                  f"  bound {m['bound']}{flag}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
