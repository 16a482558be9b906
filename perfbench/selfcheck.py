#!/usr/bin/env python3
"""Self-checks of the benchmark (not of the program).

    python3 perfbench/selfcheck.py [--workload incremental] [--seconds 1]

1. The generator is deterministic per seed: two generations with one seed
   print the same input checksum, another seed prints another.
2. BENCHMARK.json is well formed: exact keys, name and unit syntax, every
   end-to-end metric has a unit and a regression bound <= 0.25, setup_s is
   there, the workloads are the ones run.py knows.
3. An untraced and a traced run print exactly the end-to-end and per-layer
   metric names of BENCHMARK.json, the traced run records the same
   end-to-end names as the untraced run prints, and its tracing overhead
   against that untraced run.
Exits non-zero on the first failed check.
"""
import argparse
import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def run(workload, seed, seconds, trace, gen_only=False):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    if gen_only:
        cmd.append("--gen-only")
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    if out.returncode != 0:
        sys.exit(f"FAIL: {' '.join(cmd)} exited {out.returncode}\n{out.stderr[-2000:]}")
    return out.stdout.strip().splitlines()


def check(ok, what):
    print(("ok   " if ok else "FAIL ") + what)
    if not ok:
        sys.exit(1)


def checksum(lines):
    m = [re.search(r"checksum=([0-9a-f]+)", l) for l in lines if l.startswith("# inputs")]
    return m[0].group(1) if m and m[0] else None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", default="incremental")
    ap.add_argument("--seconds", type=int, default=1)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    check(set(bench) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}, "BENCHMARK.json has exactly the six keys")
    e2e, layer = bench["end_to_end"], bench["per_layer"]
    names = [m["name"] for m in e2e + layer] + [w["name"] for w in bench["workloads"]]
    check(all(NAME.match(n) for n in names) and len(set(names)) == len(names),
          "every name matches the name syntax and is used once")
    check(all(set(m) == {"name", "unit", "better", "bound"} and UNIT.match(m["unit"])
              and 0 < m["bound"] <= 0.25 for m in e2e),
          "every end-to-end metric has a unit and a bound in (0, 0.25]")
    check(any(m["name"] == "setup_s" and m["unit"] == "s" and m["better"] == "lower"
              for m in e2e), "setup_s is an end-to-end metric")
    check(all(set(m) == {"name", "unit", "better"} and UNIT.match(m["unit"])
              and m["better"] in ("higher", "lower") for m in layer) and len(layer) <= 128,
          "per-layer metrics have unit and direction, at most 128")
    sys.path.insert(0, HERE)
    import run as runner
    check(sorted(w["name"] for w in bench["workloads"]) == sorted(runner.WORKLOADS),
          "BENCHMARK.json workloads are the ones run.py accepts")

    a = checksum(run(args.workload, 7, 1, 0, gen_only=True))
    b = checksum(run(args.workload, 7, 1, 0, gen_only=True))
    c = checksum(run(args.workload, 8, 1, 0, gen_only=True))
    check(a is not None and a == b, f"same seed, same input checksum ({a})")
    check(c is not None and c != a, f"another seed, another checksum ({c})")

    untraced = json.loads(run(args.workload, 7, args.seconds, 0)[-1])
    check(list(untraced["metrics"]) == [m["name"] for m in e2e],
          "untraced run prints exactly the end-to-end metrics, in order")
    check(all(v["unit"] == m["unit"] for m, v in zip(e2e, untraced["metrics"].values())),
          "untraced units match BENCHMARK.json")
    traced = json.loads(run(args.workload, 7, args.seconds, 1)[-1])
    check(list(traced["metrics"]) == [m["name"] for m in layer],
          "traced run prints exactly the per-layer metrics, in order")
    check(all(v["unit"] == m["unit"] for m, v in zip(layer, traced["metrics"].values())),
          "traced units match BENCHMARK.json")
    import build
    build_id = os.path.basename(os.path.dirname(build.build()))
    with open(os.path.join(ROOT, ".bench_work", "results",
                           f"{args.workload}-seed7-build{build_id}-trace1.json")) as fh:
        trace = json.load(fh)
    check(sorted(trace["traced_e2e"]) == sorted(untraced["metrics"]),
          "traced and untraced runs measure the same end-to-end metric names")
    check(isinstance(trace["tracing_overhead"], dict),
          "the traced run reports its overhead against the untraced run of its seed and build")
    check(untraced["correct"] and traced["correct"], "both runs report correct outputs")


if __name__ == "__main__":
    main()
