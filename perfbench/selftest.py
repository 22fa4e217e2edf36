#!/usr/bin/env python3
"""Harness self-test: a smoke run of the benchmark at sf 0.001.

    python3 perfbench/selftest.py

Run from the root of a checkout. It runs three batch keys over sf 0.001
tables and a short stream, untraced and traced, and checks that

- every end-to-end and per-layer metric of BENCHMARK.json is printed
  with its unit, on the last line and in the readable report;
- the traced run writes its spans;
- the outputs match the fixture's expected checksums, and a fixture
  with one deliberately wrong checksum makes the run report
  ``"correct": false``.

Exits 0 when every check passes.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
FIX = os.path.join(HERE, "fixtures")
KEYS = "q1_pricing_summary,rx_scan,dedup_exact"
failures = []


def bench(workload, trace, *extra):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "2", "--trace", str(trace)] + list(extra)
    p = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT)
    if p.returncode != 0:
        failures.append(f"{workload} trace={trace} {extra}: exit {p.returncode}: "
                        f"{p.stderr.strip()[-300:]}")
        return None, ""
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-1]), p.stdout


def check(cond, what):
    print(("ok   " if cond else "FAIL ") + what)
    if not cond:
        failures.append(what)


def check_names(res, out, kind, label):
    if res is None:
        return
    want = {m["name"]: m["unit"] for m in SPEC[kind]}
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    check(got == want, f"{label}: every {kind} metric on the last line, with its unit")
    check(all(isinstance(v["value"], float) for v in res["metrics"].values()),
          f"{label}: every value is a number")
    prefix = "e2e " if kind == "end_to_end" else "layer "
    report = {l[len(prefix):].split(" = ")[0]: l.split(" = ")[1].split()
              for l in out.splitlines() if l.startswith(prefix) and " = " in l}
    check(all(n in report and report[n][1:2] == [u] for n, u in want.items()),
          f"{label}: every {kind} metric in the report, with its unit")


def main():
    fixture = ["--sf", "0.001", "--keys", KEYS]
    res, out = bench("relational", 0, *fixture, "--expected",
                     os.path.join(FIX, "selftest_expected.json"))
    check_names(res, out, "end_to_end", "batch untraced")
    check(res is not None and res["correct"] and res["failed"] == 0,
          "batch untraced: outputs match the fixture")
    res, out = bench("relational", 1, *fixture, "--expected",
                     os.path.join(FIX, "selftest_expected.json"))
    check_names(res, out, "per_layer", "batch traced")
    trace = out.split('"trace_file": "')[1].split('"')[0] if '"trace_file": "' in out else ""
    check(bool(trace) and os.path.exists(os.path.join(ROOT, trace))
          and os.path.getsize(os.path.join(ROOT, trace)) > 0,
          "batch traced: spans written as JSON lines")
    res, _ = bench("relational", 0, *fixture, "--expected",
                   os.path.join(FIX, "selftest_wrong.json"))
    check(res is not None and res["correct"] is False and res["failed"] > 0,
          "batch with a wrong expected checksum: reported incorrect")
    res, out = bench("stream-stateful", 0)
    check_names(res, out, "end_to_end", "stream untraced")
    check(res is not None and res["correct"], "stream untraced: sinks match their batch twins")
    res, out = bench("stream-stateful", 1)
    check_names(res, out, "per_layer", "stream traced")
    print("selftest: " + ("PASS" if not failures else f"FAIL ({len(failures)})"))
    for f in failures:
        print("  " + f)
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
