#!/usr/bin/env python3
"""Benchmark entry point: build, generate inputs, run one workload, check the
outputs, print one JSON result line.

    python3 perfbench/run.py --workload pull_nightly --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. The JVM side (perfbench/src) is built
from source with sbt into perfbench/target on first use and rebuilt
whenever a source file changes. Inputs are generated outside the timed
part and cached per (workload, seed, size) under .bench_build/inputs;
every run works in a fresh directory under .bench_build/runs that is
deleted when it ends. See perfbench/README.md for the metrics.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402

DEADLINE_S = 170
# fixed heap and young generation, and few malloc arenas: the resident
# high-water mark then follows the live data, not the collector's
# run-to-run sizing decisions
JVM_MEMORY = ["-Xms3g", "-Xmx3g", "-Xmn768m"]
KEEP_INPUT_SETS = 2
# each operator_board run checks one slice of its query mix against the
# oracle, chosen by the seed; any three consecutive seeds cover the mix
BOARD_CHECK_SLICES = 3
ADD_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile the engine's main sources with the harness; cache the
    runtime classpath keyed by a digest of every source file."""
    stamp, cp_file = os.path.join(BUILD, "build.stamp"), os.path.join(BUILD, "classpath.txt")
    digest = sources_digest()
    if os.path.exists(stamp) and os.path.exists(cp_file) and open(stamp).read() == digest:
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out, text=True)
        out.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if "classes" in l and ":" in l and " " not in l]
    if p.returncode != 0 or not lines:
        fail(f"build failed, see {log}", 3)
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp, "w") as f:
        f.write(digest)
    return lines[-1]


def inputs_for(workload, seed):
    """Generated inputs, cached per (workload, seed, size); only the most
    recent few sets per workload are kept."""
    fn, size = gen.GENERATORS[workload]
    key = hashlib.sha256(json.dumps(size, sort_keys=True).encode()).hexdigest()[:10]
    base = os.path.join(BUILD, "inputs", workload)
    d = os.path.join(base, f"seed{seed}_{key}")
    if not os.path.exists(os.path.join(d, "_DONE")):
        shutil.rmtree(d, ignore_errors=True)
        fn(seed, d, size)
        open(os.path.join(d, "_DONE"), "w").close()
    os.utime(d)
    sets = sorted((os.path.join(base, x) for x in os.listdir(base)), key=os.path.getmtime)
    for old in sets[:-KEEP_INPUT_SETS]:
        shutil.rmtree(old, ignore_errors=True)
    return d


def run_jvm(cp, workload, inputs, work, seconds, trace, cores, check, deadline):
    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        *JVM_MEMORY, "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-Dderby.system.home=" + tmp,
        "-cp", cp, "perfbench.Main", "--workload", workload, "--inputs", inputs,
        "--work", work, "--seconds", str(seconds), "--trace", str(trace),
        "--cores", str(cores), "--check", check, "--out", out]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT,
                             env=dict(os.environ, MALLOC_ARENA_MAX="2"))
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = None
    if rc != 0 or not os.path.exists(out):
        sys.stderr.write(open(log).read()[-4000:])
        fail("engine run " + ("timed out" if rc is None else f"failed (exit {rc})"), 4)
    with open(out) as f:
        return json.load(f)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(res, failure):
    """Medians over the timed passes. A failed or wrong operation is booked
    at the whole timed duration (never below its own time), and so is the
    wall of any pass that holds one: failures can only raise a metric."""
    timed = [p for p in res["passes"] if p["kind"] == "timed"]
    total = sum(p["wall_s"] for p in timed)
    walls, per_op = [], {}
    for p in timed:
        bad = False
        for o in p["ops"]:
            s = o["s"]
            if failure(p, o):
                s, bad = max(s, total), True
            per_op.setdefault(o["name"], []).append(s)
        walls.append(max(p["wall_s"], total) if bad else p["wall_s"])
    ops = [median(v) for k, v in per_op.items() if checks.is_op(k)]
    return {
        "setup_s": (median(res["setup_s"]) + res["warmup_s"], "s"),
        "wall_s": (median(walls), "s"),
        "op_geomean_s": (math.exp(sum(math.log(max(x, 1e-9)) for x in ops) / len(ops)), "s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MiB"),
    }


def per_layer(res, layer_extra, names):
    vals = dict(res.get("layers", {}))
    vals.update(layer_extra)
    vals["core.session_s"] = median(res["setup_s"])
    return {n: (vals.get(n) or 0.0, u) for n, u in names}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    deadline = time.time() + DEADLINE_S
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found next to perfbench/")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    os.makedirs(BUILD, exist_ok=True)
    stamps = [("start", time.time())]
    cp = build()
    stamps.append(("build", time.time()))
    inputs = inputs_for(a.workload, a.seed)
    stamps.append(("inputs", time.time()))
    work = os.path.join(BUILD, "runs", f"{a.workload}_{a.seed}_{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        res = run_jvm(cp, a.workload, inputs, work, a.seconds, a.trace, os.cpu_count() or 1,
                      f"{a.seed % BOARD_CHECK_SLICES}/{BOARD_CHECK_SLICES}", deadline)
        stamps.append(("engine", time.time()))
        failed_ops, layer_extra = checks.check(a.workload, inputs, res)
        stamps.append(("checks", time.time()))
        if a.trace:
            traces = os.path.join(BUILD, "traces")
            os.makedirs(traces, exist_ok=True)
            for f in os.listdir(work):
                if f.startswith("spans_"):
                    shutil.copy(os.path.join(work, f),
                                os.path.join(traces, f"{a.workload}_seed{a.seed}_{f}"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    def failure(p, o):
        """Why an operation failed (it threw, or a check found its output
        wrong), or None."""
        return failed_ops.get((p["dir"], o["name"])) or (None if o["ok"] else o["error"] or "error")

    failures = [(p, o) for p in res["passes"] for o in p["ops"] if failure(p, o)]
    if a.trace:
        metrics = per_layer(res, layer_extra,
                            [(m["name"], m["unit"]) for m in spec["per_layer"]])
    else:
        metrics = end_to_end(res, failure)
    print("perfbench: " + ", ".join(f"{n} {t - p:.1f} s" for (_, p), (n, t)
                                    in zip(stamps, stamps[1:])), file=sys.stderr)
    for p, o in failures:
        print(f"perfbench: {os.path.basename(p['dir'])} {o['name']} failed: {failure(p, o)}",
              file=sys.stderr)
    attempted = sum(len(p["ops"]) for p in res["passes"])
    failed = len(failures)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
