#!/usr/bin/env python3
"""Smoke test of the benchmark: every workload at the tiny scale (sf0.001
fixture, 20k stream events), untraced and traced. Asserts that each run
exits 0, that its output checks pass with no failed operation, that it
prints every metric BENCHMARK.json names, with that metric's unit, and
that every per-layer metric is measured by at least one workload (a name
no workload measures is printed as 0 and would hide a renamed metric).

Usage, from the root of a checkout: python3 perfbench/smoke.py
"""
import json
import math
import os
import subprocess
import sys

ROOT = os.getcwd()


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    expected = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
                1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    problems = []
    unmeasured = None
    for w in (x["name"] for x in spec["workloads"]):
        for trace in (0, 1):
            cmd = spec["command"] + ["--workload", w, "--seed", "42", "--seconds", "2",
                                     "--trace", str(trace), "--scale", "tiny"]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
            tag = f"{w} trace={trace}"
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                problems.append(f"{tag}: exit {p.returncode}\n{p.stderr[-2000:]}")
                continue
            r = json.loads(lines[-1])
            if set(r) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{tag}: result keys {sorted(r)}")
                continue
            if not r["correct"] or r["failed"] != 0 or r["attempted"] < 1:
                problems.append(f"{tag}: correct={r['correct']} failed={r['failed']} "
                                f"attempted={r['attempted']}")
            got = r["metrics"]
            for name, unit in expected[trace].items():
                m = got.get(name)
                if m is None:
                    problems.append(f"{tag}: metric {name} missing")
                elif m.get("unit") != unit:
                    problems.append(f"{tag}: {name} unit {m.get('unit')} != {unit}")
                elif not isinstance(m.get("value"), (int, float)) or not math.isfinite(m["value"]):
                    problems.append(f"{tag}: {name} value {m.get('value')}")
                elif trace == 0 and m["value"] <= 0:
                    problems.append(f"{tag}: {name} is {m['value']}, must be > 0")
            if trace == 1:
                rec_line = [l for l in p.stderr.splitlines()
                            if l.startswith("[perfbench] record: ")][-1]
                with open(os.path.join(ROOT, rec_line.split(": ", 1)[1])) as f:
                    absent = set(json.load(f)["not_measured"])
                unmeasured = absent if unmeasured is None else unmeasured & absent
            extra = set(got) - set(expected[trace])
            if extra:
                problems.append(f"{tag}: unexpected metrics {sorted(extra)}")
            print(f"ok  {tag}" if not any(x.startswith(tag) for x in problems)
                  else f"BAD {tag}", flush=True)
    if unmeasured:
        problems.append(f"measured by no workload: {sorted(unmeasured)}")
    for x in problems:
        print(x, file=sys.stderr)
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
