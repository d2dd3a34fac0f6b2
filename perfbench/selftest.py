#!/usr/bin/env python3
"""Smoke self-test of the graft benchmark, at sf0.001 with tiny sizes.

    python3 perfbench/selftest.py      # from the root of a graft checkout

Checks that
  * every BENCHMARK.json workload runs end to end untraced and traced,
    passes its correctness gate with no failed op, and prints every
    end-to-end (untraced) or per-layer (traced) metric with its unit;
  * a traced run measures the layers its workload is there for (none of
    them is reported as not exercised);
  * ingest_serve, the one workload outside BENCHMARK.json that the
    others do not cover, runs in both modes;
  * the seed alone fixes the inputs: the same seed gives the same input
    hash in both modes, another seed a different one.
Exits non-zero on the first failed check.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
SECONDS = 3
# layers each workload must measure in a traced run, by name prefix
OWN_LAYERS = {"serve": ("gateway.", "store."), "ingest": ("stream.", "cascade."),
              "sweep": ("sweep.",)}
COMMON_LAYERS = ("spark.", "host.", "trace.")


def run(workload, seed, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(SECONDS), "--trace", str(trace), "--smoke"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=600)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or len(lines) < 2:
        sys.stderr.write(r.stderr[-4000:])
        raise SystemExit(f"FAIL {workload} trace={trace}: exit {r.returncode}")
    info, result = json.loads(lines[-2])["perfbench"], json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        raise SystemExit(f"FAIL {workload}: result keys {sorted(result)}")
    return info, result


def main():
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    hashes = {}
    for w in [x["name"] for x in bench["workloads"]]:
        for trace, spec in ((0, bench["end_to_end"]), (1, bench["per_layer"])):
            info, res = run(w, 1, trace)
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                raise SystemExit(f"FAIL {w} trace={trace}: correct={res['correct']} "
                                 f"failed={res['failed']}/{res['attempted']}")
            got = res["metrics"]
            for m in spec:
                if m["name"] not in got or got[m["name"]]["unit"] != m["unit"] \
                        or not isinstance(got[m["name"]]["value"], (int, float)):
                    raise SystemExit(f"FAIL {w} trace={trace}: metric {m['name']} missing or unit "
                                     f"differs: {got.get(m['name'])}")
            extra = set(got) - {m["name"] for m in spec}
            if extra:
                raise SystemExit(f"FAIL {w} trace={trace}: metrics not in BENCHMARK.json: {sorted(extra)}")
            if trace:
                own = OWN_LAYERS.get(w, ()) + COMMON_LAYERS
                skipped = [k for k in info["not_exercised"] if k.startswith(own)]
                if skipped:
                    raise SystemExit(f"FAIL {w}: traced run did not measure {skipped}")
            hashes.setdefault(w, set()).add(info["input_hash"])
            print(f"ok   {w} trace={trace}: {len(got)} metrics, {res['attempted']} ops")
    # reads racing the cascade's partition overwrite may fail here; the
    # run itself must complete
    for trace in (0, 1):
        info, res = run("ingest_serve", 1, trace)
        print(f"ok   ingest_serve trace={trace}: {res['failed']}/{res['attempted']} ops failed")
    for w, hs in hashes.items():
        if len(hs) != 1:
            raise SystemExit(f"FAIL {w}: one seed gave input hashes {sorted(hs)}")
    w = bench["workloads"][0]["name"]
    other = run(w, 2, 0)[0]["input_hash"]
    if other in hashes[w]:
        raise SystemExit(f"FAIL {w}: seeds 1 and 2 gave the same input hash {other}")
    print("ok   input hash is fixed by the seed")
    print("selftest passed")


if __name__ == "__main__":
    main()
