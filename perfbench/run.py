#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one fresh JVM.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run compiles the program
(``src/main/scala``) and the harness (``perfbench/src``) with the Scala
compiler that ships in the Spark jars, and generates the workload's
tables with ``perfbench/gen_data.py``; both land under
``$CARGO_TARGET_DIR`` (default ``.bench_build``) and are reused while
the sources and the data spec are unchanged.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics and writes the run's spans as JSON lines. The last stdout line
is one JSON object: ``correct``, ``attempted``, ``failed``, ``metrics``.
Lines before it are a readable report (every metric with its unit,
sample counts and the host-noise probe). See perfbench/README.md for
what each metric means and which layer should move it.

Extra options, for the self-test and local runs: ``--keys a,b`` (batch
keys), ``--sf`` (data scale), ``--expected FILE`` (expected checksums).
"""
import argparse
import glob
import hashlib
import json
import os
import random
import re
import shutil
import statistics
import subprocess
import sys
import time

T_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
CONFIG = json.load(open(os.path.join(HERE, "config.json")))
SPEC_PATH = os.path.join(ROOT, "BENCHMARK.json")
SPEC = json.load(open(SPEC_PATH)) if os.path.exists(SPEC_PATH) else {}
# names perfbench/README.md also gives these figures, per workload kind
ALIASES = {
    "batch": {"lat_p50_ms": "query_p50_ms", "lat_tail_ms": "slowest key's median",
              "throughput_per_s": "warm queries per second"},
    "stream": {"lat_p50_ms": "stream_lat_p50_ms", "lat_tail_ms": "stream_lat_p99_ms",
               "throughput_per_s": "stream_eps"},
}
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The Spark jars the project builds against: build.sbt's
    ``unmanagedBase``, or ``$SPARK_HOME/jars``."""
    if "SPARK_HOME" in os.environ:
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                  open(sbt).read()) if os.path.exists(sbt) else None
    if not m:
        die("no Spark jars: set SPARK_HOME or run from the root of a checkout")
    return m.group(1)


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"),
                        "graftbench")


def run_checked(cmd, log, timeout):
    with open(log, "w") as f:
        p = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT, cwd=ROOT)
        try:
            rc = p.wait(timeout=max(1.0, timeout))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            die(f"timed out after {timeout:.0f} s: see {log}")
    if rc != 0:
        die(f"exit code {rc}: see {log}")


def scalac(jars, classpath, out, files, log):
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    argfile = out + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(files))
    run_checked(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*",
                 "scala.tools.nsc.Main", "-nowarn", "-classpath", classpath,
                 "-d", out, "@" + argfile], log, 600)


def ensure_build(bd):
    """Compile the program and the harness unless an up-to-date build
    (same source bytes) is already there. Returns the run classpath."""
    prog = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                            recursive=True))
    harness = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    if not prog:
        die("no program sources under src/main/scala")
    jars = spark_jars()
    if not os.path.isdir(jars):
        die(f"Spark jars not found at {jars}")
    h = hashlib.sha256()
    for f in prog + harness:
        h.update(os.path.relpath(f, ROOT).encode())
        h.update(open(f, "rb").read())
    # one directory per source hash: a rebuild never deletes classes a
    # running JVM may still load
    cdir = os.path.join(bd, "classes", h.hexdigest()[:16])
    main, bench = os.path.join(cdir, "main"), os.path.join(cdir, "bench")
    stamp = os.path.join(cdir, "complete")
    if not os.path.exists(stamp):
        os.makedirs(os.path.join(bd, "logs"), exist_ok=True)
        scalac(jars, f"{jars}/*", main, prog, os.path.join(bd, "logs/build-main.log"))
        scalac(jars, f"{main}:{jars}/*", bench, harness,
               os.path.join(bd, "logs/build-bench.log"))
        open(stamp, "w").close()
    return f"{bench}:{main}:{jars}/*"


def ensure_data(bd, sf):
    """Generate the tables (fixed data seed) once per spec; not timed."""
    sys.path.insert(0, HERE)
    import gen_data
    seed = CONFIG["data_seed"]
    d = os.path.join(bd, f"data/sf{sf}")
    man = os.path.join(d, "manifest.json")
    want = {"sf": sf, "seed": seed}
    if os.path.exists(man):
        m = json.load(open(man))
        if {k: m.get(k) for k in want} == want and all(
                os.path.exists(os.path.join(d, f"{t}.parquet")) for t in m["rows"]):
            return d
    shutil.rmtree(d, ignore_errors=True)
    gen_data.generate(d, sf, seed)
    return d


def java_cmd(cp, tmp, args, main="graftbench.Main"):
    """A fresh JVM whose scratch files all stay under ``tmp``."""
    return (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
            # no hsperfdata file: it would go to the system temp directory
            + [f"-Xmx{CONFIG['heap']}", "-XX:-UsePerfData", "-XX:ReservedCodeCacheSize=512m",
               "-XX:+UseCodeCacheFlushing", f"-Djava.io.tmpdir={tmp}",
               f"-Dspark.local.dir={tmp}", f"-Dspark.sql.warehouse.dir={tmp}/warehouse",
               "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
               "-cp", cp, main] + args)


# ---------------------------------------------------------------- metrics

def pct(xs, p):
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, -(-p * len(s) // 100) - 1))]


def med(xs):
    return statistics.median(xs) if xs else 0.0


def batch_metrics(res, expected, trace):
    execs = res["execs"]
    exp = expected["keys"]
    wrong, failed = [], 0
    for e in execs:
        want = exp.get(e["key"], {})
        bad = (e["checksum"] is not None and want.get("deterministic", False)
               and e["checksum"] != want.get("checksum"))
        if bad:
            wrong.append(f'{e["key"]} pass {e["pass"]}: {e["checksum"]} != {want.get("checksum")}')
        if bad or e["error"] or e["timeout"]:
            failed += 1
    cold = [e for e in execs if e["pass"] == 0]
    warm = [e for e in execs if e["pass"] > 0]
    plain = [e for e in warm if not e["traced"]]

    def per_key(es):
        by = {}
        for e in es:
            by.setdefault(e["key"], []).append(e["total_s"])
        return [med(v) for v in by.values()]

    def warm_sum(es):
        return sum(per_key(es))

    lat = [e["total_s"] * 1e3 for e in plain]
    e2e = {
        "setup_s": (res["setup"]["total_s"], "s"),
        "cold_s": (sum(e["total_s"] for e in cold), "s"),
        "warm_s": (warm_sum(plain), "s"),
        "lat_p50_ms": (med(lat), "ms"),
        # a run has a few dozen warm executions, too few for a steady
        # percentile tail: the tail is the slowest key's median
        "lat_tail_ms": (max(per_key(plain)) * 1e3 if plain else 0.0, "ms"),
        "throughput_per_s": (len(plain) / res["warm_window_s"] if plain else 0.0, "1/s"),
        "retained_mb": (res["retained_mb"], "MB"),
    }
    info = {"workload_kind": "batch", "keys": res["keys"], "cold_execs": len(cold),
            "warm_execs": len(plain),
            "query_p90_ms": pct(lat, 90) if lat else 0.0,
            "samples_beyond_p90": len(lat) - -(-90 * len(lat) // 100) if lat else 0,
            "failures": [f'{e["key"]}#{e["pass"]}: {e["error"] or "timeout"}'
                         for e in execs if e["error"] or e["timeout"]] + wrong}
    layer = {}
    if trace:
        traced = [e for e in warm if e["traced"]]
        passes = max(1.0, len(traced) / max(1, len(res["keys"])))
        tc = [e for e in cold if e["traced"]]

        def per_pass(es, f, n):
            return sum(f(e) for e in es) / n

        lay = lambda name: (lambda e: e["layer"].get(name, 0.0))
        cat = lambda ph: (lambda e: e["catalyst_ms"].get(ph, 0.0))
        wall = per_pass(traced, lambda e: e["total_s"], passes)
        task = per_pass(traced, lay("task_s"), passes)
        slots = res["slots"]
        layer.update({
            "GraftSession.session_s": res["setup"]["session_s"],
            "sources.Tables.open_s": res["setup"]["open_s"],
            "sources.input_mb": per_pass(traced, lay("input_mb"), passes),
            "SparkEntry.build_cold_s": sum(e["build_s"] for e in tc),
            "SparkEntry.build_warm_s": per_pass(traced, lambda e: e["build_s"], passes),
            "SparkEntry.build_jobs_cold": sum(e["layer"].get("build_jobs", 0) for e in tc),
            "SparkEntry.build_jobs_warm": per_pass(traced, lay("build_jobs"), passes),
            "FrameCache.protected_rdds": execs[-1]["protected_rdds"] if execs else 0,
            "checkpoint.rdds_created": per_pass(traced, lambda e: e["new_rdds"], passes),
            "checkpoint.rdds_created_cold": sum(e["new_rdds"] for e in tc),
            "catalyst.analysis_ms": per_pass(traced, cat("analysis"), passes),
            "catalyst.optimization_ms": per_pass(traced, cat("optimization"), passes),
            "catalyst.planning_ms": per_pass(traced, cat("planning"), passes),
            "exec.serial_s": max(0.0, wall - task / slots),
            "exec.parallel_eff": task / (wall * slots) if wall else 0.0,
            "jvm.gc_s": per_pass(traced, lambda e: e["jvm_gc_s"], passes),
            "batch.cold_build_share": (sum(e["build_s"] for e in tc)
                                       / max(1e-9, sum(e["total_s"] for e in tc))),
        })
        for k in ["jobs", "stages", "tasks", "task_s", "cpu_s", "gc_s",
                  "shuffle_write_mb", "shuffle_read_mb", "spill_mb",
                  "failed_tasks", "result_mb"]:
            layer[f"exec.{k}"] = per_pass(traced, lay(k), passes)
        layer["trace.warm_s_traced"] = warm_sum(traced)
        layer["trace.warm_s_untraced"] = warm_sum(plain)
        layer["trace.overhead_s"] = warm_sum(traced) - warm_sum(plain)
        info["warm_execs_traced"] = len(traced)
    return e2e, layer, info, wrong, failed, len(execs)


def stream_metrics(res, measured, trace):
    """Stream figures over the fixed ``measured`` operator set. A measured
    query that terminated leaves no comparable figure: the run is then
    reported incorrect, so a crash cannot read as a speed-up."""
    ops = res["ops"]
    progs = [p for p in res["progress"] if p["rows"] > 0]
    op_of = lambda f: f.split(" ")[0].rstrip(":")
    dead = {op_of(f) for f in res["failures"] if " terminated" in f}
    trig = lambda p: p["durations"].get("triggerExecution", 0)
    cold = [trig(p) for p in progs if p["batch"] == 0 and p["op"] in measured]
    closed = [p for p in progs if p["phase"] == "closed" and p["batch"] > 0]
    in_traced = lambda p: res["traced_from_ms"] <= p["start_ms"] < res["traced_to_ms"]
    plain = [p for p in closed if not in_traced(p)]
    traced = [p for p in closed if in_traced(p)]

    def warm_sum(ps):
        return sum(med([trig(p) for p in ps if p["op"] == o]) for o in measured) / 1e3

    # events per busy second, pooled over the measured queries and
    # aligned to trigger boundaries (the closed loop always has input
    # waiting, so each query's triggers run back to back)
    closed_m = [p for p in res["progress"] if p["op"] in measured
                and p["phase"] == "closed" and p["batch"] > 0]
    busy = sum(trig(p) for p in closed_m) / 1e3
    eps = sum(p["rows"] for p in closed_m) / busy if busy else 0.0

    lat = [x for o in measured for x in res["latency_ms"].get(o, [])]
    e2e = {
        "setup_s": (res["setup"]["total_s"], "s"),
        "cold_s": (sum(cold) / 1e3, "s"),
        "warm_s": (warm_sum(plain), "s"),
        "lat_p50_ms": (med(lat), "ms"),
        "lat_tail_ms": (pct(lat, 99) if lat else 0.0, "ms"),
        "throughput_per_s": (eps, "1/s"),
        "retained_mb": (res["retained_mb"], "MB"),
    }
    wrong = [f for f in res["failures"] if " terminated" not in f]
    wrong += [f"{o} terminated: the run's figures are not comparable"
              for o in measured if o in dead]
    info = {"workload_kind": "stream", "operators": ops, "measured": measured,
            "terminated": sorted(dead),
            "events": res["events"], "delivered": res["delivered"],
            "open_loop_rate": res["rate"], "latency_samples": len(lat),
            "tail_percentile": 99, "warm_triggers": len(plain),
            "backlog_mid_end": res["backlog_mid_end"], "failures": res["failures"],
            "phase_marks_s": res["marks_s"]}
    layer = {}
    if trace:
        warm = [p for p in progs if p["batch"] > 0 and p["phase"] in ("closed", "open")]
        trig_ms = [trig(p) for p in warm]
        dur = lambda k: med([p["durations"].get(k, 0) for p in warm])
        last = {}
        for p in res["progress"]:
            last[p["op"]] = p
        st = lambda p, k: sum(s[k] for s in p["state"])
        layer.update({
            "GraftSession.session_s": res["setup"]["session_s"],
            "sources.Tables.open_s": res["setup"]["open_s"],
            "stream.triggers": len(warm),
            "stream.trigger_p50_ms": med(trig_ms),
            "stream.trigger_p95_ms": pct(trig_ms, 95) if trig_ms else 0.0,
            "stream.addBatch_ms": dur("addBatch"),
            "stream.queryPlanning_ms": dur("queryPlanning"),
            "stream.walCommit_ms": dur("walCommit"),
            "stream.commitOffsets_ms": dur("commitOffsets"),
            "stream.latestOffset_ms": dur("latestOffset"),
            "state.rows_total": sum(st(p, "rows_total") for p in last.values()),
            "state.mem_mb": sum(st(p, "mem_bytes") for p in last.values()) / 1048576.0,
            "state.rows_updated": sum(st(p, "rows_updated") for p in progs),
            "state.rows_removed": sum(st(p, "rows_removed") for p in res["progress"]),
            "state.commit_ms": med([st(p, "commit_ms") for p in warm]),
            "state.rows_dropped_late": sum(st(p, "dropped_late") for p in res["progress"]),
            "watermark.lag_ms": med([p["watermark_lag_ms"] for p in warm
                                     if p["watermark_lag_ms"] is not None]),
            "gen.late_p99_ms": pct(res["gen_late_ms"], 99) if res["gen_late_ms"] else 0.0,
            "gen.backlog_events": res["gen_backlog_events"],
            "exec.serial_s": 0.0, "exec.parallel_eff": 0.0,
        })
        for o in ops:
            mine = [p for p in warm if p["op"] == o]
            layer[f"stream.trigger_p50_ms.{o}"] = med([trig(p) for p in mine])
            layer[f"state.rows_total.{o}"] = st(last[o], "rows_total") if o in last else 0
            layer[f"state.rows_removed.{o}"] = sum(
                st(p, "rows_removed") for p in res["progress"] if p["op"] == o)
            layer[f"stream_lat_p50_ms.{o}"] = med(res["latency_ms"].get(o, []))
        for k, v in res["layer"].items():
            layer[f"exec.{k}"] = v
        layer["jvm.gc_s"] = res["layer"].get("gc_s", 0.0)
        layer["trace.warm_s_traced"] = warm_sum(traced)
        layer["trace.warm_s_untraced"] = warm_sum(plain)
        layer["trace.overhead_s"] = warm_sum(traced) - warm_sum(plain)
    failed = len({op_of(f) for f in res["failures"]})
    return e2e, layer, info, wrong, failed, len(ops)


# ------------------------------------------------------------------ main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--keys")
    ap.add_argument("--sf", type=float)
    ap.add_argument("--expected")
    a = ap.parse_args()
    wl = CONFIG["workloads"].get(a.workload) or die(f"unknown workload {a.workload}")
    bd = build_dir()
    cp = ensure_build(bd)
    run_id = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    tmp = os.path.join(bd, "tmp", run_id)
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(bd, "results", run_id + ".json")
    spans = os.path.join(bd, "traces", run_id + ".jsonl")
    log = os.path.join(bd, "logs", run_id + ".log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    args = ["--mode", wl["kind"], "--master", wl["master"],
            "--partitions", str(wl["partitions"]), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--seed", str(a.seed), "--out", out,
            "--spans", spans]
    if wl["kind"] == "batch":
        sf = a.sf if a.sf is not None else wl["sf"]
        data = ensure_data(bd, sf)
        keys = a.keys.split(",") if a.keys else list(wl["keys"])
        random.Random(a.seed).shuffle(keys)  # the seed sets the order
        # whole warm passes: as many as --seconds holds at the workload's
        # reference pass time, the same count on every run
        passes = max(2, round(a.seconds / wl["pass_s"]))
        if a.trace:
            # traced and untraced passes alternate ABBA: a multiple of four
            passes = -(-passes // 4) * 4
        args += ["--data", data, "--keys", ",".join(keys), "--passes", str(passes),
                 "--query_timeout", str(CONFIG["query_timeout_s"])]
    else:
        for k in ["rate", "users", "zipf", "dup_share", "step_ms", "chunk", "backlog",
                  "warmup_s"]:
            args += [f"--{k}", str(wl[k])]
        args += ["--checkpoint", os.path.join(tmp, "checkpoint")]
    jvm = java_cmd(cp, tmp, args)
    budget = CONFIG["run_budget_s"] - (time.time() - T_START)
    try:
        run_checked(jvm, log, budget)
        res = json.load(open(out))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    evictions = sum(1 for line in open(log, errors="replace") if "EVICTING" in line)
    if wl["kind"] == "batch":
        exp_path = a.expected or os.path.join(HERE, wl["expected"])
        e2e, layer, info, wrong, failed, attempted = batch_metrics(
            res, json.load(open(exp_path)), a.trace == 1)
    else:
        e2e, layer, info, wrong, failed, attempted = stream_metrics(
            res, wl["measured_ops"], a.trace == 1)
    info["frame_cache_evictions"] = evictions
    info["noise"] = res["noise"]
    info["failed_frac"] = failed / attempted
    if a.trace:
        layer["FrameCache.evictions"] = evictions
        layer["failed_frac"] = failed / attempted
        layer["trace.spans"] = res["spans"]
        for k, v in res["self_s"].items():
            layer[f"self_s.{k}"] = v
        for when in ("start", "end"):
            for k, v in res["noise"][when].items():
                layer[f"noise.{k}_{when}"] = v
        info["trace_file"] = os.path.relpath(spans, ROOT)
        metrics = {m["name"]: {"value": float(layer.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in SPEC["per_layer"]}
    else:
        metrics = {m["name"]: {"value": float(e2e[m["name"]][0]), "unit": m["unit"]}
                   for m in SPEC["end_to_end"]}
    for k, (v, u) in e2e.items():
        alias = ALIASES[wl["kind"]].get(k)
        print(f"e2e {k} = {v:.6g} {u}" + (f"  ({alias})" if alias else ""))
    print(f"e2e failed_frac = {failed / attempted:.6g} ratio  ({failed} of {attempted})")
    # a traced run reports every per-layer metric (0 where the layer is
    # not on this workload's path), then any extra figures it has
    spec_layer = [(m["name"], m["unit"]) for m in SPEC.get("per_layer", [])] if a.trace else []
    for k, u in spec_layer:
        print(f"layer {k} = {layer.get(k, 0.0):.6g} {u}")
    for k in sorted(set(layer) - {n for n, _ in spec_layer}):
        print(f"layer {k} = {layer[k]:.6g}")
    print("info " + json.dumps(info))
    print(json.dumps({"correct": not wrong, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
