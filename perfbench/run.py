#!/usr/bin/env python3
"""Layered batch benchmark for the graft engine.

Run from the root of a checkout of the engine:

    python3 perfbench/run.py --workload loops_dedup --seed 1 --seconds 10 --trace 0

One run builds the engine and this harness (once per checkout), then
starts a fresh JVM that sets up a session and runs one workload's pinned
queries as closed-loop passes: one caller, one query at a time, a cold
pass, one warm-up pass, then measured warm passes for `--seconds`. The
seed orders the queries of each pass. The corpus is the engine's sf0.01
correctness corpus (seed-42 generation of the ten tables), shipped in
`perfbench/data/sf0.01`. Last, untimed, every query's output is checked
against the DuckDB oracle with the engine's own `graft.Verify` and
`tools/check.py`.

`--trace 0` reports the end-to-end metrics; `--trace 1` runs the traced
variant and reports the per-layer metrics. Human-readable lines go
first; the last line of standard output is one JSON object. Everything
the run writes stays under `.perfbench/` in the checkout.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
# The corpus is fixed, like a production table set: every seed reads the
# same data. The seed orders the queries inside each pass, which decides
# which query pays each shared memo build and first codegen.
DATA = os.path.join(HERE, "data", "sf0.01")
JVM_TIMEOUT_S = 140        # a whole run must end within 180 s
JVM_OPTS = [
    "-Xmx3g", "-XX:+UseParallelGC",
    "-Dspark.ui.enabled=false",
] + [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    with open(os.path.join(HERE, "workloads.json")) as f:
        return bench, json.load(f)


def sources_digest():
    """Digest of every input of the build, to rebuild only on change."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the engine and the harness with sbt; cache the classpath."""
    stamp_path = os.path.join(STATE, "classpath.json")
    digest = sources_digest()
    if os.path.exists(stamp_path):
        with open(stamp_path) as f:
            cached = json.load(f)
        if cached.get("digest") == digest:
            return cached["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
    log = os.path.join(STATE, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT, timeout=840).returncode
    with open(log) as f:
        lines = f.read().splitlines()
    cp = [l for l in lines if "perfbench" in l and os.pathsep in l and " " not in l.strip()]
    if rc != 0 or not cp:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        die("build failed", 1)
    classpath = cp[-1].strip()
    with open(stamp_path, "w") as f:
        json.dump({"digest": digest, "classpath": classpath}, f)
    return classpath


class Jvm:
    """The harness JVM, started at once; `result()` waits for it."""

    def __init__(self, classpath, tag, **opts):
        tmp = os.path.join(STATE, "tmp")
        os.makedirs(tmp, exist_ok=True)
        self.tag, self.out = tag, os.path.join(STATE, f"{tag}.json")
        self.log = os.path.join(STATE, f"{tag}.log")
        if os.path.exists(self.out):
            os.remove(self.out)
        args = ["java", *JVM_OPTS, f"-Djava.io.tmpdir={tmp}", "-cp", classpath, "perfbench.Main",
                "--out", self.out, "--tmp", tmp]
        for k, v in opts.items():
            args += [f"--{k}", str(v)]
        with open(self.log, "w") as err:
            args += ["--launched", str(time.time_ns())]
            self.proc = subprocess.Popen(args, cwd=ROOT, stdout=err, stderr=subprocess.STDOUT)
        self.deadline = time.monotonic() + JVM_TIMEOUT_S

    def result(self):
        try:
            rc = self.proc.wait(timeout=max(1.0, self.deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            rc = "timeout"
        if rc != 0 or not os.path.exists(self.out):
            stop(self)
            with open(self.log) as f:
                sys.stderr.write(f.read()[-4000:])
            die(f"harness JVM '{self.tag}' failed: {rc}", 1)
        with open(self.out) as f:
            return json.load(f)


def stop(jvm):
    if jvm.proc.poll() is None:
        jvm.proc.kill()
    jvm.proc.wait()


def oracle_check(data, verify_dir, queries):
    """tools/check.py on the Verify dump; returns the failing query names."""
    proc = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check.py"),
                           data, verify_dir, *queries],
                          cwd=ROOT, capture_output=True, text=True, timeout=20)
    failing = sorted({m.group(1) for m in re.finditer(r"^FAIL (\S+?):? ", proc.stdout, re.M)})
    checked = {m.group(1) for m in re.finditer(r"^ok\s+(\S+)", proc.stdout, re.M)}
    unchecked = sorted(set(queries) - checked - set(failing))
    return failing + unchecked


def fmt(v):
    return f"{v:.4f}" if isinstance(v, float) else "n/a" if v is None else str(v)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft", "SparkEntry.scala"),
                 os.path.join("tools", "check.py")):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"not an engine checkout: {need} is missing under {ROOT}")
    bench, work = spec()
    if a.workload not in work["workloads"]:
        die(f"unknown workload {a.workload}; known: {' '.join(work['workloads'])}")
    queries = work["workloads"][a.workload]["queries"]
    os.makedirs(STATE, exist_ok=True)

    wall = {}
    t = time.monotonic()

    def lap(name):
        nonlocal t
        now = time.monotonic()
        wall[name] = now - t
        t = now

    classpath = build()
    lap("build")
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    verify_dir = os.path.join(STATE, "verify", tag)
    shutil.rmtree(verify_dir, ignore_errors=True)
    jvm = Jvm(classpath, tag, data=DATA, seed=a.seed, seconds=a.seconds, trace=a.trace,
              queries=",".join(queries), spans=os.path.join(STATE, f"{tag}.spans.jsonl"),
              verify=verify_dir)
    try:
        r = jvm.result()
    finally:
        stop(jvm)
    lap("jvm")

    # A query fails if it threw in any pass or its output differs from the
    # oracle's; a baseline failure is reported, never filtered out.
    mismatched = oracle_check(DATA, verify_dir, queries)
    lap("oracle")
    failed = sorted(set(r["failed_queries"]) | set(mismatched))
    r["failed_share"] = len(failed) / len(queries)

    print(f"workload {a.workload}  seed {a.seed}  trace {a.trace}  queries {len(queries)}  "
          f"passes {r['passes']} (cold, warm-up, {r['passes'] - 2} measured)  corpus sf0.01")
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    units["failed_share"] = "share"
    for name in ("setup_s", "cold_pass_s", "warm_pass_s", "query_p50_s", "query_tail_s",
                 "failed_share", "heap_after_gc_mb"):
        extra = ""
        if name == "query_tail_s":
            extra = (f"  (p{fmt(r['query_tail_pct'])} of {r['query_tail_n']} warm samples, Harrell-Davis)"
                     if r["query_tail_pct"] is not None
                     else f"  (needs 20 warm samples, has {r['query_tail_n']})")
        if name == "query_p50_s":
            extra = "  (Harrell-Davis)"
        if name == "setup_s":
            extra = (f"  (session {fmt(r['setup_session_s'])} s + footers "
                     f"{fmt(r['setup_footers_s'])} s + catalog)")
        print(f"  {name:<18} {fmt(r[name]):>12} {units[name]}{extra}")
    print(f"  failed queries: {' '.join(failed) if failed else 'none'}")
    print("  wall time by step: " + ", ".join(f"{k} {v:.1f} s" for k, v in wall.items())
          + f" (of which Verify {r['verify_s']:.1f} s)")
    if a.trace:
        for m in bench["per_layer"]:
            print(f"  {m['name']:<30} {fmt(r[m['name']]):>12} {m['unit']}")
        print(f"  tracing overhead: traced warm pass {fmt(r['traced_warm_pass_s'])} s "
              f"- untraced {fmt(r['untraced_warm_pass_s'])} s = {fmt(r['trace.overhead_s'])} s "
              "(medians over the alternating warm passes of this run)")
        print(f"  construction jobs by call-site file: {json.dumps(r['construct_sites'], sort_keys=True)}")
        print(f"  session conf drift: {' '.join(r['conf_drift']) if r['conf_drift'] else 'none'}")

    with open(os.path.join(STATE, f"{tag}.result.json"), "w") as f:
        json.dump(r, f, indent=1, sort_keys=True)
    kind = "per_layer" if a.trace else "end_to_end"
    metrics = {m["name"]: {"value": r[m["name"]], "unit": m["unit"]} for m in bench[kind]}
    print(json.dumps({"correct": not failed, "attempted": len(queries), "failed": len(failed),
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
