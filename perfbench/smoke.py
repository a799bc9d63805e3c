#!/usr/bin/env python3
"""Smoke test of the benchmark itself, at tiny sizes.

    python3 perfbench/smoke.py        # from the root of a checkout

For every workload in BENCHMARK.json, untraced and traced, runs
``run.py --smoke`` and asserts that the run is correct and that its last
stdout line carries exactly the metrics BENCHMARK.json names for that
mode, each with its unit, and that the report lists the error rate.
Then asserts that the benchmark refuses to run, without a result, in a
directory holding only BENCHMARK.json and the benchmark's own files.
"""
import json
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()


def run(args, cwd=ROOT):
    return subprocess.run([sys.executable, "perfbench/run.py"] + args, cwd=cwd,
                          capture_output=True, text=True, timeout=900)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    failures = []
    for w in (x["name"] for x in spec["workloads"]):
        for trace, group in ((0, "end_to_end"), (1, "per_layer")):
            p = run(["--workload", w, "--seed", "1", "--seconds", "1",
                     "--trace", str(trace), "--smoke"])
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                failures.append(f"{w} trace={trace}: exit {p.returncode}\n{p.stderr[-2000:]}")
                continue
            res = json.loads(lines[-1])
            want = {m["name"]: m["unit"] for m in spec[group]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want:
                failures.append(f"{w} trace={trace}: metrics differ: "
                                f"missing {sorted(set(want) - set(got))}, "
                                f"extra {sorted(set(got) - set(want))}, "
                                f"units {[k for k in want if k in got and got[k] != want[k]]}")
            if not all(isinstance(v["value"], (int, float)) for v in res["metrics"].values()):
                failures.append(f"{w} trace={trace}: non-numeric metric value")
            if not res["correct"] or res["attempted"] < 1:
                failures.append(f"{w} trace={trace}: correct={res['correct']} "
                                f"attempted={res['attempted']}")
            if not any(x.startswith("metric error_rate") for x in lines):
                failures.append(f"{w} trace={trace}: no error_rate in the report")
            print(f"{w} trace={trace}: {len(got)} metrics", flush=True)

    bare = os.path.join(ROOT, ".bench_build", "smoke-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for path in spec["paths"]:
        shutil.copytree(os.path.join(ROOT, path), os.path.join(bare, path),
                        ignore=shutil.ignore_patterns("target", "__pycache__"))
    p = run(["--workload", spec["workloads"][0]["name"], "--seed", "1", "--seconds", "1",
             "--trace", "0"], cwd=bare)
    if p.returncode == 0 or p.stdout.strip():
        failures.append("a directory without the program must fail without a result")
    shutil.rmtree(bare, ignore_errors=True)

    for f in failures:
        print("FAIL", f)
    print("smoke: ok" if not failures else f"smoke: {len(failures)} failure(s)")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
