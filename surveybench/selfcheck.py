#!/usr/bin/env python3
"""Self-check of the survey benchmark, no JVM needed:

- the generator is deterministic: the same seed gives byte-identical
  inputs, and another seed gives different ones, for every workload;
- BENCHMARK.json follows its contract, and the metric names the
  benchmark emits (run.E2E / run.PER_LAYER) are exactly those it
  declares; every workload prints every end-to-end metric.

Run from the root of a checkout: python3 surveybench/selfcheck.py
Exits 0 when every check passes.
"""
import json
import os
import re
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def check_generator(problems):
    os.makedirs(run.BUILD, exist_ok=True)
    tmp = tempfile.mkdtemp(dir=run.BUILD)
    try:
        for w in run.WORKLOADS:
            a, b, c = (os.path.join(tmp, f"{w}-{x}") for x in "abc")
            gen.generate(w, 7, a)
            gen.generate(w, 7, b)
            gen.generate(w, 8, c)
            if gen.digest(a) != gen.digest(b):
                problems.append(f"{w}: seed 7 gave two different input sets")
            if gen.digest(a) == gen.digest(c):
                problems.append(f"{w}: seeds 7 and 8 gave the same inputs")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def check_spec(problems):
    spec = run.benchmark_spec()
    keys = {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    if set(spec) != keys:
        problems.append(f"BENCHMARK.json keys {sorted(spec)} != {sorted(keys)}")
    names = [w["name"] for w in spec["workloads"]] + [m["name"] for m in spec["end_to_end"]] + \
        [m["name"] for m in spec["per_layer"]]
    problems += [f"bad or repeated name {n}" for n in names if not NAME.match(n) or names.count(n) > 1]
    for m in spec["end_to_end"] + spec["per_layer"]:
        if not UNIT.match(m["unit"]) or m["better"] not in ("lower", "higher"):
            problems.append(f"bad unit/better in {m}")
    for m in spec["end_to_end"]:
        if set(m) != {"name", "unit", "better", "bound"} or not 0 < m["bound"] <= 0.25:
            problems.append(f"bad end-to-end entry {m}")
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    if not setup or setup[0]["unit"] != "s" or setup[0]["better"] != "lower" or \
            setup[0]["bound"] != max(m["bound"] for m in spec["end_to_end"]):
        problems.append("setup_s must be in s, lower is better, with the largest bound")
    if sorted(w["name"] for w in spec["workloads"]) != sorted(run.WORKLOADS):
        problems.append(f"workloads {[w['name'] for w in spec['workloads']]} != run.WORKLOADS")
    # every workload prints every end-to-end metric (--trace 0)
    declared = {m["name"] for m in spec["end_to_end"]}
    if declared != set(run.E2E):
        problems.append(f"end-to-end names: declared-only {sorted(declared - set(run.E2E))}, "
                        f"emitted-only {sorted(set(run.E2E) - declared)}")
    declared = {m["name"] for m in spec["per_layer"]}
    emitted = {n for ns in run.PER_LAYER.values() for n in ns}
    if declared != emitted:
        problems.append(f"per-layer names: declared-only {sorted(declared - emitted)}, "
                        f"emitted-only {sorted(emitted - declared)}")
    if not 1 <= spec["run_seconds"] <= 60 or not 2 <= len(spec["workloads"]) <= 8:
        problems.append("run_seconds or the workload count is out of range")


def main():
    problems = []
    check_spec(problems)
    check_generator(problems)
    for p in problems:
        print(f"FAIL {p}")
    print("selfcheck: " + ("ok" if not problems else f"{len(problems)} problem(s)"))
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
