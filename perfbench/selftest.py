#!/usr/bin/env python3
"""Self-test of the graft benchmark at sf0.001 scale.

    python3 perfbench/selftest.py            # from the root of a checkout

1. Generation is deterministic: the same seed gives byte-identical inputs,
   another seed different ones.
2. Every metric BENCHMARK.json names is emitted with its unit: one untraced
   and one traced tiny run per workload.
3. The output checks catch a deliberately corrupted result: one lane result
   with a changed value, and one lake read with a changed row.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

import pandas as pd  # noqa: E402

ROOT = os.getcwd()
FAILS = []


def expect(cond, what):
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        FAILS.append(what)


def determinism(tmp):
    for w in run.WORKLOADS:
        dirs = []
        for tag, seed in (("a", 7), ("b", 7), ("c", 8)):
            d = os.path.join(tmp, f"{w}-{tag}")
            gen.main(w, seed, d, 60, run.LAKE_EVERY, tiny=True)
            dirs.append(run.file_digest(d))
        expect(dirs[0] == dirs[1], f"{w}: same seed, byte-identical inputs")
        expect(dirs[0] != dirs[2], f"{w}: other seed, different inputs")


def bench(w, trace):
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", w,
                        "--seed", "3", "--seconds", "1", "--trace", str(trace),
                        "--tiny"], cwd=ROOT, capture_output=True, text=True,
                       timeout=600)
    lines = p.stdout.strip().splitlines()
    return p.returncode, json.loads(lines[-1]) if lines else None


def emission():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for w in [x["name"] for x in spec["workloads"]]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            rc, line = bench(w, trace)
            expect(rc == 0 and line and line["correct"] and line["failed"] == 0,
                   f"{w} trace={trace}: run passes its output checks")
            if not line:
                continue
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in line["metrics"].items()}
            expect(got == want, f"{w} trace={trace}: emits exactly the {key} "
                   f"metrics with their units (missing {sorted(set(want) - set(got))}, "
                   f"extra {sorted(set(got) - set(want))})")
            expect(all(isinstance(v["value"], (int, float))
                       for v in line["metrics"].values()),
                   f"{w} trace={trace}: every value is a number")


def corruption(tmp):
    runs = os.path.join(ROOT, ".bench_build", "runs")
    lanes = os.path.join(runs, "rides-3-trace0")
    inp, res = os.path.join(lanes, "input0"), os.path.join(lanes, "results")
    expect(all(ok for _, ok, _ in check.lanes(ROOT, inp, res)),
           "rides: untouched results match their oracles")
    bad = os.path.join(tmp, "results")
    shutil.copytree(res, bad)
    target = os.path.join(bad, "q1_pricing_summary")
    part = max((f for f in os.listdir(target) if f.endswith(".parquet")),
               key=lambda f: os.path.getsize(os.path.join(target, f)))
    df = pd.read_parquet(os.path.join(target, part))
    df.loc[0, "count_order"] += 1
    df.to_parquet(os.path.join(target, part))
    flagged = [n for n, ok, _ in check.lanes(ROOT, inp, bad) if not ok]
    expect(flagged == ["q1_pricing_summary"],
           f"rides: a corrupted lane result is caught (flagged {flagged})")

    lake = os.path.join(runs, "lake-3-trace0")
    with open(os.path.join(lake, "result.json")) as f:
        checks = json.load(f)["rounds"][0]["workload"]["checks"]
    inp = os.path.join(lake, "input0")
    expect(all(ok for _, ok, _ in check.lake(inp, checks)),
           "lake: untouched reads match the model")
    checks[-1]["rows"][0][2] += 1
    expect(not check.lake(inp, checks)[-1][1],
           "lake: a corrupted final-table row is caught")


def main():
    os.makedirs(os.path.join(ROOT, ".bench_build"), exist_ok=True)
    tmp = tempfile.mkdtemp(dir=os.path.join(ROOT, ".bench_build"))
    try:
        determinism(tmp)
        emission()
        corruption(tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print("SELFTEST " + ("PASSED" if not FAILS else f"FAILED ({len(FAILS)})"))
    sys.exit(1 if FAILS else 0)


if __name__ == "__main__":
    main()
