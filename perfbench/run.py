#!/usr/bin/env python3
"""graft benchmark: one workload, one JVM, one JSON result line.

Usage (from the repository root):
  python3 perfbench/run.py --workload curation_sf0.1 --seed 1 --seconds 8 --trace 0

Builds the engine together with the harness (sbt, only when sources changed),
generates the workload's input tables into a fresh temp root, runs the
harness, checks every query's result fingerprint against reference.json, and
prints the metrics. The last stdout line is one JSON object with the keys
correct, attempted, failed and metrics: the end-to-end metrics of
BENCHMARK.json with --trace 0, its per-layer metrics with --trace 1.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import metrics  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

SETUPS = 3
WARMUPS = 2
HEAP = "2g"
DEADLINE_S = 170
BUILD_TIMEOUT_S = 850
REFERENCE = os.path.join(HERE, "reference.json")
CLASSPATH = os.path.join(HERE, "target", "classpath.txt")
SOURCES = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src"),
           os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
# Spark on JDK 17 outside spark-submit needs these (as in the root build.sbt)
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
         "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
         "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
         "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
         "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def newest_mtime(paths):
    newest = 0.0
    for p in paths:
        if os.path.isfile(p):
            newest = max(newest, os.path.getmtime(p))
        for d, _, files in os.walk(p):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def build():
    """Compile the engine and the harness unless the classpath file is newer
    than every source; return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found; run from a graft checkout")
    if os.path.isfile(CLASSPATH) and os.path.getmtime(CLASSPATH) > newest_mtime(SOURCES):
        with open(CLASSPATH) as f:
            return f.read().strip()
    print("perfbench: building with sbt", file=sys.stderr)
    try:
        done = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                              cwd=HERE, stdout=sys.stderr, stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}")
    if done.returncode != 0 or not os.path.isfile(CLASSPATH):
        fail(f"build failed with exit code {done.returncode}")
    with open(CLASSPATH) as f:
        return f.read().strip()


def cores():
    """Spark task slots: half the CPUs this process may use, which leaves the
    other half to the driver thread, the JIT and the collector. With more
    slots the passes ran slower, and their times spread more widely from run
    to run, as one slowed task thread stretched whole stages."""
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, n // 2)


def inputs(sf, dest):
    """Copy the input tables of scale factor sf to dest. They depend only on
    sf, so they are generated once per checkout, under target/gen."""
    cache = os.path.join(HERE, "target", "gen", f"sf{sf}")
    if not os.path.isdir(cache):
        os.makedirs(os.path.dirname(cache), exist_ok=True)
        part = tempfile.mkdtemp(prefix="part-", dir=os.path.dirname(cache))
        datagen.write(sf, part)
        os.replace(part, cache)
    shutil.copytree(cache, dest)


def run_harness(cp, wl, args, tmp, origin, deadline):
    data = os.path.join(tmp, "data")
    for d in ("java", "spark", "warehouse"):
        os.makedirs(os.path.join(tmp, d))
    out = os.path.join(tmp, "result.json")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={os.path.join(tmp, 'java')}"]
    for o in OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Harness",
            "queries=" + ",".join(wl["queries"]), f"data={data}", f"seed={args.seed}",
            f"seconds={args.seconds}", f"trace={args.trace}", f"out={out}", f"setups={SETUPS}",
            f"warmups={WARMUPS}",
            f"origin_ms={int(origin * 1000)}", f"cores={cores()}",
            f"local_dir={os.path.join(tmp, 'spark')}", f"warehouse={os.path.join(tmp, 'warehouse')}"]
    proc = subprocess.Popen(cmd, cwd=tmp, stdout=sys.stderr, stderr=sys.stderr)
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.time()))
    except BaseException:
        proc.kill()
        proc.wait()
        raise
    if code != 0 or not os.path.isfile(out):
        fail(f"harness exited with code {code}")
    with open(out) as f:
        return json.load(f)


def check(res, workload, update):
    """Compare each query's fingerprint with the stored reference; return
    the names of the queries whose result differs."""
    refs = {}
    if os.path.isfile(REFERENCE):
        with open(REFERENCE) as f:
            refs = json.load(f)
    if update:
        refs[workload] = dict(sorted(res["fingerprints"].items()))
        with open(REFERENCE, "w") as f:
            json.dump(refs, f, indent=1, sort_keys=True)
            f.write("\n")
    expected = refs.get(workload, {})
    return sorted(n for n, fp in res["fingerprints"].items() if expected.get(n) != fp)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--update-reference", action="store_true",
                    help="store this run's result fingerprints as the workload's reference")
    args = ap.parse_args()
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        fail("BENCHMARK.json not found")
    with open(spec_path) as f:
        spec = json.load(f)
    wl = WORKLOADS[args.workload]
    cp = build()
    deadline = time.time() + DEADLINE_S
    print(f"perfbench: workload {args.workload} seed {args.seed} seconds {args.seconds} "
          f"trace {args.trace} task slots {cores()}")
    runs = os.path.join(HERE, "target", "runs")
    os.makedirs(runs, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=args.workload + "-", dir=runs)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        inputs(wl["sf"], os.path.join(tmp, "data"))
        # set-up time runs from here: JVM start and what the harness does
        # before its first timed query, but neither the build nor the inputs
        res = run_harness(cp, wl, args, tmp, time.time(), deadline)
        if args.trace:
            kept = os.path.join(HERE, "target", f"trace-{args.workload}-seed{args.seed}.json")
            shutil.copyfile(os.path.join(tmp, "result.json"), kept)
            print(f"perfbench: spans and counters kept in {kept}", file=sys.stderr)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    print("perfbench: set-ups " + " ".join(f"{t:.3f}" for t in res["setup_s"]), file=sys.stderr)
    for p in res["passes"]:
        times = " ".join(f"{q['name']}={q['s']:.3f}" for q in p["queries"])
        kind = p["kind"] + (" traced" if p["traced"] else "")
        print(f"perfbench: pass {p['pass']} ({kind}): {times}", file=sys.stderr)
    res["result_rows"] = {n: int(fp.split(":")[0]) for n, fp in res["fingerprints"].items()
                          if not fp.startswith("error")}
    mismatched = check(res, args.workload, args.update_reference)
    errors = sorted({q["name"] for p in res["passes"] for q in p["queries"] if q["error"]})
    attempted = sum(len(p["queries"]) for p in res["passes"]) + len(res["fingerprints"])
    failed = sum(1 for p in res["passes"] for q in p["queries"] if q["error"]) + len(mismatched)

    if args.trace:
        values, notes = metrics.per_layer(res), {}
        declared = spec["per_layer"]
    else:
        values, notes = metrics.end_to_end(res)
        declared = spec["end_to_end"]
    units = {m["name"]: m["unit"] for m in declared}
    if set(values) != set(units):
        fail(f"metrics {sorted(set(values) ^ set(units))} differ from BENCHMARK.json")
    for line in report(values, notes, units, attempted, failed, errors, mismatched):
        print(line)


def report(values, notes, units, attempted, failed, errors, mismatched):
    """The output lines: every metric by name with its value and unit, the
    failure share and the failing queries by name, then the JSON result."""
    lines = []
    for name in units:
        note = f"  ({notes[name]})" if name in notes else ""
        lines.append(f"{name:26s} {values[name]:>16.6f} {units[name]}{note}")
    lines.append(f"failed_frac {failed / attempted:.6f} ({failed} of {attempted} executions)")
    if errors:
        lines.append("queries that threw: " + ", ".join(errors))
    if mismatched:
        lines.append("queries whose result differs from reference.json: " + ", ".join(mismatched))
    lines.append(json.dumps({
        "correct": not errors and not mismatched,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": values[n], "unit": units[n]} for n in units},
    }))
    return lines


if __name__ == "__main__":
    main()
