#!/usr/bin/env python3
"""Run one benchmark workload against the graft library and print its result.

    python3 perfbench/run.py --workload rides|curation|lakehouse \
        --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the library and the
harness (perfbench/harness) with sbt; later runs reuse the build while the
sources are unchanged. Inputs are generated from --seed, the harness JVM
sets up, measures for --seconds (and, with --trace 1, measures again with
spans on), and every timed operation's output is then checked against an
independent DuckDB reference. The last line of stdout is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics untraced (--trace 0) or the per-layer metrics
(--trace 1). Everything else goes to stderr or perfbench/.work/.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import check  # noqa: E402

check.CACHE = os.path.join(HERE, ".cache")

BUILD_DIR = os.path.join(HERE, ".build")
WORK_ROOT = os.path.join(HERE, ".work")
HARNESS = os.path.join(HERE, "harness")
# the harness must finish this long after the build (a run may take 180 s)
JVM_DEADLINE_S = 160

# Workload sizes. Chosen so that one run (a cold set-up, the timed loop,
# the traced loop and the output checks) fits the benchmark's budget of
# ~45 s per run on a 4-core host; BENCHMARK.md records the measurements.
RIDES = 6_000_000
STATIONS = 500
DOCS_PER_SHARD = 300
LAKE_ROWS = 500_000
# CDC events per second, open loop: a quarter of the ~24,000 events/s the
# ingest path sustained on a 4-core host (BENCHMARK.md, "Sizing")
LAKE_RATE = 6000
LAKE_TICK_MS = 100      # the generator delivers one batch per tick


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"perfbench: {msg}")
    sys.exit(code)


# ---------------------------------------------------------------- build

def _tree_hash():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src"),
             os.path.join(ROOT, "build.sbt"), os.path.join(HARNESS, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HARNESS, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the library and the harness; return the runtime classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from a checkout of the graft repository")
    digest = _tree_hash()
    stamp = os.path.join(BUILD_DIR, "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            saved = json.load(f)
        if saved.get("digest") == digest:
            return saved["classpath"]
    os.makedirs(BUILD_DIR, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    t0 = time.monotonic()
    p = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true",
         "export Runtime/fullClasspath"],
        cwd=HARNESS, env=env, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, timeout=840)
    with open(os.path.join(BUILD_DIR, "sbt.log"), "w") as f:
        f.write(p.stdout)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines or "classes" not in lines[-1]:
        log(p.stdout[-4000:])
        fail("build failed", 3)
    cp = lines[-1].strip()
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": cp}, f)
    log(f"perfbench: built in {time.monotonic() - t0:.1f} s")
    return cp


# ------------------------------------------------------------------ JVM

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def run_jvm(cp, work, args, t_built):
    cores = os.cpu_count() or 4
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(cores)
    # few malloc arenas: native memory then depends far less on which
    # threads happened to allocate
    env["MALLOC_ARENA_MAX"] = "2"
    env.pop("SPARK_HOME", None)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed heap and fixed generation sizes: peak memory then follows
    # the live data rather than the collector's resizing decisions
    cmd = ["java", "-Xms3g", "-Xmx3g", "-Xmn512m", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--work", work] + args
    budget = JVM_DEADLINE_S - (time.monotonic() - t_built)
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=logf,
                                stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(budget, 10))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail("harness exceeded its time budget", 4)
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            log(f.read()[-6000:])
        fail(f"harness exited with {rc}", 5)
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


# ----------------------------------------------------------- workloads

def prepare(workload, seed, seconds, inputs):
    """Generate the workload's inputs; return their facts."""
    if workload == "rides":
        return gen.rides(inputs, seed, RIDES, n_stations=STATIONS)
    if workload == "curation":
        # one fresh shard per job (three warm-up jobs); a loop that runs
        # out of shards ends early, which only happens if a job gets
        # under ~1 s
        n = int(seconds) + 2
        return gen.curation(inputs, seed, {
            "warm": 3, "untraced": n, "traced": n}, DOCS_PER_SHARD)
    if workload == "lakehouse":
        # the CDC log covers both phases with room to spare
        n_events = int(LAKE_RATE * (2 * seconds + 20))
        return gen.lakehouse(inputs, seed, LAKE_ROWS, n_events, 200_000,
                             LAKE_RATE, LAKE_TICK_MS)
    fail(f"unknown workload {workload}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["rides", "curation", "lakehouse"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    cp = build()
    t_built = time.monotonic()
    work = os.path.join(WORK_ROOT, a.workload)
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    os.makedirs(inputs)
    t0 = time.monotonic()
    facts = prepare(a.workload, a.seed, a.seconds, inputs)
    facts["generate_s"] = round(time.monotonic() - t0, 3)
    log("perfbench: inputs " + json.dumps(facts))

    res = run_jvm(cp, work, ["--workload", a.workload, "--inputs", inputs,
                             "--seconds", str(a.seconds),
                             "--trace", str(a.trace)],
                  t_built)
    res["docs_per_shard"] = DOCS_PER_SHARD
    verdict = check.verify(a.workload, inputs, res)
    # the timed outputs are large; the checks are done with them
    shutil.rmtree(os.path.join(work, "out"), ignore_errors=True)
    spec = load_spec()
    e2e = check.end_to_end(a.workload, res)
    if set(e2e) != set(spec["end_to_end"]) or any(
            not v["value"] > 0 for v in e2e.values()):
        fail(f"incomplete end-to-end metrics: {e2e}", 6)
    print("inputs " + json.dumps(facts))
    print("workload " + json.dumps(check.detailed(a.workload, res)))
    if a.trace:
        metrics = check.per_layer(a.workload, res, spec["per_layer"])
        print("traced " + json.dumps(check.end_to_end(a.workload, res, "traced")))
        print("untraced " + json.dumps(e2e))
        print(f"spans {os.path.join(work, 'spans.jsonl')}")
    else:
        metrics = e2e
    print(json.dumps({"correct": verdict["failed"] == 0,
                      "attempted": verdict["attempted"],
                      "failed": verdict["failed"],
                      "metrics": metrics}))


def load_spec():
    """Metric names and units from BENCHMARK.json at the repository root."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {k: {x["name"]: x["unit"] for x in spec[k]}
            for k in ("end_to_end", "per_layer")}


if __name__ == "__main__":
    main()
