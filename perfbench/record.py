#!/usr/bin/env python3
"""Record the expected output of every ``SparkEntry.queries`` key.

    python3 perfbench/record.py --sf 0.01 --out perfbench/expected/sf0.01.json
        [--runs 2] [--keys a,b] [--oracle] [--oracle-timeout 60]
    python3 perfbench/record.py --draw perfbench/expected/sf0.01.json

Runs each key twice (cold, then warm) in each of ``--runs`` fresh JVMs
over the benchmark's generated tables and stores graft.Bench's
``bit_xor(xxhash64)`` checksum. A key whose checksums disagree, within
or across JVMs, is marked non-deterministic: it stays in its pool, and
the benchmark then skips its checksum check and reports it. With
``--oracle`` the outputs are also dumped by ``graft.Verify`` and compared
with the DuckDB oracle by ``tools/compare.py``; each key's verdict is
stored beside its checksum. Run from the root of a checkout.

``--draw`` makes each batch workload's fixed key sample from the keys
of an expected file: ``config.json`` gives per workload a list of
strata (a key regex and a count; a key belongs to the first stratum it
matches) and the draw seed, and excluded keys never enter a pool.
"""
import argparse
import json
import os
import re
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


PIPELINE = re.compile(r"^(graph|dedup|text|ann|emb|dq|search|media)_")


def draw(expected_path):
    """Seeded, family-stratified key samples for the batch workloads."""
    import random
    keys = sorted(json.load(open(expected_path))["keys"])
    keys = [k for k in keys if k not in run.CONFIG["excluded_keys"]]
    pools = {"pipeline": [k for k in keys if PIPELINE.match(k)],
             "relational": [k for k in keys if not PIPELINE.match(k)]}
    rng = random.Random(run.CONFIG["draw_seed"])
    for name, pool in pools.items():
        strata = run.CONFIG["workloads"][name]["strata"]
        members = [[] for _ in strata]
        for k in pool:
            i = next(i for i, (rx, _) in enumerate(strata) if re.match(rx, k))
            members[i].append(k)
        picked = [k for (rx, n), m in zip(strata, members) for k in rng.sample(m, n)]
        print(json.dumps({name: picked}))


def main():
    if len(sys.argv) == 3 and sys.argv[1] == "--draw":
        return draw(sys.argv[2])
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", type=float, required=True)
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--keys")
    ap.add_argument("--out", required=True)
    ap.add_argument("--oracle", action="store_true")
    ap.add_argument("--oracle-timeout", type=float, default=60)
    a = ap.parse_args()
    bd = run.build_dir()
    cp = run.ensure_build(bd)
    data = run.ensure_data(bd, a.sf)
    tmp = os.path.join(bd, "tmp", f"record-{os.getpid()}")
    os.makedirs(tmp, exist_ok=True)
    logs = os.path.join(bd, "logs")
    os.makedirs(logs, exist_ok=True)
    runs = []
    for i in range(a.runs):
        out = os.path.join(tmp, f"record{i}.jsonl")
        args = ["--mode", "record", "--master", "local[4]", "--partitions", "4",
                "--data", data, "--out", out, "--query_timeout", "120"
                ] + (["--keys", a.keys] if a.keys else [])
        run.run_checked(run.java_cmd(cp, tmp, args), os.path.join(logs, f"record{os.getpid()}-{i}.log"),
                        24 * 3600)
        runs.append({r["key"]: r for r in map(json.loads, open(out))})
    keys = {}
    for k in sorted(runs[0]):
        sums = [c for r in runs for c in r[k]["checksums"]]
        errs = [e for r in runs for e in r[k]["errors"] if e]
        keys[k] = {"checksum": sums[0],
                   "deterministic": sums[0] is not None and len(set(sums)) == 1,
                   "checksums_seen": sorted({str(c) for c in sums}),
                   "error": errs[0] if errs else None,
                   "cold_s": round(runs[0][k]["total_s"][0], 4),
                   "warm_s": round(runs[0][k]["total_s"][1], 4)}
    if a.oracle:
        vout = os.path.join(tmp, "verify")
        vargs = [data, vout] + ([a.keys] if a.keys else [])
        run.run_checked(run.java_cmd(cp, tmp, vargs, main="graft.Verify"),
                        os.path.join(logs, f"record{os.getpid()}-verify.log"), 24 * 3600)
        cmp = subprocess.run(
            [sys.executable, os.path.join(run.ROOT, "tools/compare.py"), data, vout,
             f"--timeout={a.oracle_timeout}"] + ([f"--only={a.keys}"] if a.keys else []),
            capture_output=True, text=True, cwd=run.ROOT)
        for m in re.finditer(r"^\[(PASS|rows|FAIL)\] (\S+): (.*)$", cmp.stdout, re.M):
            if m.group(2) in keys:
                keys[m.group(2)]["oracle"] = m.group(1) if m.group(1) != "FAIL" \
                    else "FAIL: " + m.group(3)[:160]
    shutil.rmtree(tmp, ignore_errors=True)
    doc = {"data": {"sf": a.sf, "seed": run.CONFIG["data_seed"]},
           "runs": a.runs, "oracle_timeout_s": a.oracle_timeout if a.oracle else None,
           "keys": keys}
    os.makedirs(os.path.dirname(os.path.abspath(a.out)), exist_ok=True)
    with open(a.out, "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
    nd = [k for k, v in keys.items() if not v["deterministic"]]
    print(f"{len(keys)} keys, {len(nd)} non-deterministic: {nd}")


if __name__ == "__main__":
    main()
