#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Run from the root of a graft checkout. The first run builds (see
build.py). The last line of standard output is the result:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones. The line
before it ({"perfbench": ...}) identifies the run: nproc, heap, commit,
seed, load average, input hash, and the workload's own metric names.
See perfbench/README.md.
"""
import argparse
import json
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # nothing written next to the sources
import build  # noqa: E402

WORKLOADS = ("serve", "sweep", "ingest", "ingest_serve")
HEAP = "3g"
JVM_TIMEOUT_S = 150
CHECK_TIMEOUT_S = 25


def git_commit(root):
    if not os.path.isdir(os.path.join(root, ".git")):
        return None  # an exported checkout; never report an enclosing repo's HEAD
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, stdout=subprocess.PIPE,
                           stderr=subprocess.DEVNULL, text=True, timeout=10)
        return r.stdout.strip() or None if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def oracle_check(root, check):
    """Sweep gate: the dumped results against the DuckDB oracle via the
    repo's tools/check.py. Returns (n_checked, n_failed)."""
    script = os.path.join(root, "tools", "check.py")
    expected = len(check["queries"])
    try:
        r = subprocess.run([sys.executable, script, check["sf_dir"], check["dump_dir"]],
                           cwd=root, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           text=True, timeout=CHECK_TIMEOUT_S)
        out = r.stdout
    except (OSError, subprocess.SubprocessError) as e:
        print(f"[perfbench] oracle check did not run: {e}", file=sys.stderr)
        return expected, expected
    passed = set(re.findall(r"^PASS (\S+)", out, re.M))
    for line in out.splitlines():
        if line.startswith("FAIL"):
            print(f"[perfbench] oracle {line}", file=sys.stderr)
    return expected, sum(1 for q in check["queries"] if q not in passed)


def attach_units(root, values, trace, info):
    """The metrics of BENCHMARK.json's list for this mode, by name, with
    their units. The JVM reports name -> value for what the workload
    measured: every end-to-end metric, and in a traced run the layers
    the workload exercises. A layer it does not exercise is absent; it
    reads 0 and is named in info["not_exercised"]. A metric reported as
    null (it should have been measured and was not) or a name the list
    lacks fails the run. Returns (metrics, problem)."""
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer" if trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in spec}
    unknown = sorted(set(values) - set(units))
    if unknown:
        return None, f"metrics missing from BENCHMARK.json: {unknown}"
    absent = [k for k in units if k not in values]
    unmeasured = [k for k, v in values.items() if v is None]
    if unmeasured or (absent and not trace):
        return None, f"no measurement for {unmeasured + absent}"
    if trace:
        info["not_exercised"] = absent
    return {k: {"value": values.get(k, 0.0), "unit": u} for k, u in units.items()}, None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs (sf0.001, one day of history, one set-up)")
    a = ap.parse_args()
    root = os.getcwd()
    try:
        cp, flags, data, key = build.ensure(root)
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2

    n = build.cores()
    tag = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    work = os.path.join(root, ".bench_build", "runs", tag)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    log_path = os.path.join(root, ".bench_build", "logs", tag + ".log")
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    cmd = ["java", f"-Xmx{HEAP}", "-Xss4m", *build.JVM_OPENS, *flags,
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-cp", cp, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--work-dir", work, "--data-dir", data,
           "--spans-file", os.path.join(root, ".bench_build", "logs", tag + ".spans.jsonl"),
           "--cores", str(n), "--smoke", "1" if a.smoke else "0"]
    result = None
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=root, env=build.child_env(root, tmp),
                                    stdout=subprocess.PIPE, stderr=log, text=True)
            try:
                out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                print(f"[perfbench] run exceeded {JVM_TIMEOUT_S}s; log: {log_path}", file=sys.stderr)
                return 1
        for line in out.splitlines():
            if line.startswith("PERFBENCH_RESULT "):
                result = json.loads(line[len("PERFBENCH_RESULT "):])
        if proc.returncode != 0 or result is None:
            with open(log_path) as f:
                sys.stderr.write("".join(f.readlines()[-60:]))
            print(f"[perfbench] JVM exited {proc.returncode} without a result", file=sys.stderr)
            return 1
        check = result["info"].get("oracle_check")
        if check:
            checked, bad = oracle_check(root, check)
            result["info"].update(oracle_checked=checked, oracle_failed=bad)
            result["attempted"] += checked
            result["failed"] += bad
            result["correct"] = result["correct"] and bad == 0
    finally:
        shutil.rmtree(work, ignore_errors=True)

    info = result["info"]
    metrics, problem = attach_units(root, result["metrics"], a.trace, info)
    if problem:
        print(f"[perfbench] {problem}; log: {log_path}", file=sys.stderr)
        return 1
    info.update(git_commit=git_commit(root), build_key=key, heap=HEAP)
    print(json.dumps({"perfbench": info}))
    print(json.dumps({"correct": bool(result["correct"]), "attempted": int(result["attempted"]),
                      "failed": int(result["failed"]), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
