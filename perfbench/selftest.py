#!/usr/bin/env python3
"""Self-tests of the segment-refresh benchmark. Run from the checkout root:

    python3 perfbench/selftest.py

1. A tiny-scale smoke of every workload, untraced and traced: exit 0, the last
   stdout line is the result object with exactly its four keys, correct is
   true, and every metric BENCHMARK.json lists for that mode is printed with
   its unit, both as a `metric` line and in the object.
2. A deliberately wrong expected fingerprint (--corrupt-expected) is reported
   as a failure with a non-zero exit, not passed.
3. In a directory holding only BENCHMARK.json and the benchmark's files, the
   command exits non-zero without printing a result.
4. workloads.json, which the benchmark reads its sizes from, names the same
   workloads with the same reasons, and the same metrics with the same units,
   as BENCHMARK.json.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
SMOKE = ["--seed", "7", "--seconds", "1", "--scale", "0.02"]


def run(args, cwd=ROOT):
    p = subprocess.run([sys.executable, "perfbench/run.py"] + args, cwd=cwd,
                       capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    return p.returncode, lines, p.stderr


def result(lines):
    return json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None


def expect(ok, what, failures):
    print(("ok    " if ok else "FAIL  ") + what)
    if not ok:
        failures.append(what)


def main():
    failures = []
    meta = json.load(open(os.path.join(HERE, "workloads.json")))
    expect({w["name"]: w["why"] for w in BENCH["workloads"]}
           == {k: v["why"] for k, v in meta["workloads"].items()},
           "workloads.json: BENCHMARK.json's workloads and reasons", failures)
    for kind in ("end_to_end", "per_layer"):
        expect({m["name"]: m["unit"] for m in BENCH[kind]}
               == {k: v["unit"] for k, v in meta[kind].items()},
               f"workloads.json: BENCHMARK.json's {kind} metrics and units", failures)

    for w in BENCH["workloads"]:
        for trace, kind in (("0", "end_to_end"), ("1", "per_layer")):
            code, lines, err = run(["--workload", w["name"], "--trace", trace] + SMOKE)
            res = result(lines)
            name = f"{w['name']} --trace {trace}"
            expect(code == 0 and res is not None, f"{name}: exit 0 with a result", failures)
            if res is None:
                sys.stderr.write(err[-3000:])
                continue
            expect(set(res) == {"correct", "attempted", "failed", "metrics"},
                   f"{name}: result keys", failures)
            expect(res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1,
                   f"{name}: correct, {res['attempted']} attempted", failures)
            want = {m["name"]: m["unit"] for m in BENCH[kind]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            expect(got == want, f"{name}: every {kind} metric with its unit", failures)
            printed = {l.split()[1]: l.split()[3] for l in lines if l.startswith("metric ")}
            expect(printed == want, f"{name}: one metric line per metric", failures)

    code, lines, _ = run(["--workload", "tick_many_rules", "--trace", "0",
                          "--corrupt-expected"] + SMOKE)
    res = result(lines)
    expect(code != 0 and res is not None and res["correct"] is False and res["failed"] >= 1,
           "a wrong expected fingerprint is reported as a failure", failures)

    bare = os.path.join(ROOT, ".bench_build", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for path in BENCH["paths"]:
        shutil.copytree(os.path.join(ROOT, path), os.path.join(bare, path),
                        ignore=shutil.ignore_patterns("target", ".bsp"))
    try:
        code, lines, _ = run(["--workload", "tick_many_rules", "--trace", "0"] + SMOKE, cwd=bare)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    expect(code != 0 and result(lines) is None,
           "without the engine's sources: non-zero exit, no result", failures)

    print(f"{len(failures)} failed" if failures else "all passed")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
