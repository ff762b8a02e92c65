#!/usr/bin/env python3
"""Self-test of the benchmark harness.

    python3 perfbench/selftest.py

Runs every workload of BENCHMARK.json at a tiny size, untraced and traced,
and checks that each run exits 0, reports correct outputs, prints every
metric BENCHMARK.json names with its unit in the result line, and prints
each workload's own named figures with their units. Then checks that a
directory holding only BENCHMARK.json and the benchmark's files makes the
benchmark exit non-zero without a result. Takes about ten minutes on four
cores; exits non-zero on the first failure.
"""
import json
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# figures each workload prints under the names the docs use, with units
NAMED = {
    ("crawl", 0): {"crawl_pages_per_s": "pages/s", "round_s_p50": "s",
                   "store_bytes_per_page": "B/page", "failed_frac": "ratio"},
    ("crawl", 1): {"request_ms_p50": "ms", "request_ms_tail": "ms",
                   "request_ms_tail_percentile": "pct", "failed_frac": "ratio"},
    ("frontier", 0): {"frontier_urls_per_s": "URLs/s", "failed_frac": "ratio"},
    ("frontier", 1): {"suite_s": "s", "failed_frac": "ratio"},
}


def check(cond, msg):
    if not cond:
        print(f"FAIL {msg}")
        sys.exit(1)


def run(cwd, workload, trace):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "1", "--seconds", "2", "--trace", str(trace),
         "--scale", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=900)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for w in (x["name"] for x in spec["workloads"]):
        for trace in (0, 1):
            p = run(ROOT, w, trace)
            label = f"{w} trace={trace}"
            check(p.returncode == 0, f"{label}: exit {p.returncode}\n{p.stderr[-3000:]}")
            lines = p.stdout.splitlines()
            result = json.loads(lines[-1])
            check(set(result) == {"correct", "attempted", "failed", "metrics"},
                  f"{label}: result keys {sorted(result)}")
            check(result["correct"] and result["failed"] == 0 and result["attempted"] >= 1,
                  f"{label}: correct={result['correct']} failed={result['failed']}")
            wanted = spec["per_layer" if trace else "end_to_end"]
            got = result["metrics"]
            check([m["name"] for m in wanted] == list(got),
                  f"{label}: metric names differ from BENCHMARK.json")
            for m in wanted:
                check(got[m["name"]]["unit"] == m["unit"],
                      f"{label}: {m['name']} unit {got[m['name']]['unit']}")
            printed = {}
            for l in lines:
                m = re.match(r"\[metric\] (\S+) = (\S+) (\S+)$", l)
                if m:
                    printed[m.group(1)] = m.group(3)
            for name, unit in NAMED[(w, trace)].items():
                check(printed.get(name) == unit, f"{label}: {name} not printed in {unit}")
            print(f"ok   {label}: {len(got)} metrics, {result['attempted']} ops")

    bare = os.path.join(ROOT, ".bench_build", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for d in spec["paths"]:
        shutil.copytree(os.path.join(ROOT, d), os.path.join(bare, d),
                        ignore=shutil.ignore_patterns("target", ".bsp"))
    p = run(bare, spec["workloads"][0]["name"], 0)
    shutil.rmtree(bare, ignore_errors=True)
    check(p.returncode != 0 and not p.stdout.strip(),
          "a directory without the engine sources did not fail cleanly")
    print("ok   a directory without the engine sources fails without a result")


if __name__ == "__main__":
    main()
