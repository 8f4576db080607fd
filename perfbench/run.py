#!/usr/bin/env python3
"""Benchmark entry point: builds the program from source when needed,
generates the seeded inputs of one workload, starts one JVM that runs
an untimed warm-up pass and then timed passes until they add up to
--seconds, checks the last pass's outputs with DuckDB, and prints one
JSON result line.

    python3 perfbench/run.py --workload etl_pipeline --seed 1 --seconds 5 --trace 0

Run from the repository root. `--trace 0` reports the end-to-end
metrics of BENCHMARK.json, `--trace 1` its per-layer metrics. Every
file a run makes lives under perfbench/.runs/<workload>-<pid> and is
removed when the run ends; build products go to the sbt target
directories and perfbench/.state.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

T_START = time.time()

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
STATE = os.path.join(BENCH, ".state")
WORKLOADS = ("etl_pipeline", "gate_job_bound")
JVM_DEADLINE_S = 170
# a fixed heap: with a growable one, G1 sized the heap by host load and
# peak RSS split between two levels from run to run
HEAP = "1g"
# Spark 4 on JDK 17 needs these when a session starts outside spark-submit.
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]

sys.path.insert(0, BENCH)


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_stamp():
    """Hash of everything the build reads."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def ensure_build():
    """Compile the program and the harness with sbt unless the sources
    are unchanged since the last build; return the runtime classpath."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no program sources next to the benchmark (build.sbt, src/main/scala)")
    stamp = source_stamp()
    cp_file = os.path.join(STATE, "classpath.txt")
    stamp_file = os.path.join(STATE, "stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file) and \
            open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    tmp = os.path.join(STATE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env["SBT_OPTS"] = f"{env.get('SBT_OPTS', '')} -Djava.io.tmpdir={tmp} -Dsbt.server.autostart=false"
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True,
        timeout=840)
    lines = [l for l in proc.stdout.splitlines() if l.startswith("/")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        fail("build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


def run_jvm(cp, args, run_dir, traced, build_s):
    log = os.path.join(run_dir, "jvm.log")
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={run_dir}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    cmd += [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    if traced:
        # long call sites reach the outermost program frame
        cmd.append("-Dspark.callstack.depth=128")
    cmd += ["-cp", cp, "perfbench.BenchMain"] + args
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            code = proc.wait(timeout=max(10, JVM_DEADLINE_S - (time.time() - T_START - build_s)))
        except subprocess.TimeoutExpired:
            # a thread dump shows where a stuck run waits
            subprocess.run(["jstack", str(proc.pid)], stdout=sys.stderr, stderr=subprocess.DEVNULL,
                           timeout=30, check=False)
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            code = "timeout"
    if code != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-6000:])
        fail(f"benchmark JVM ended with {code}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    t_build = time.time()
    cp = ensure_build()
    build_s = time.time() - t_build

    import check
    import gen

    run_dir = os.path.join(BENCH, ".runs", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        inp = os.path.join(run_dir, "input")
        os.makedirs(os.path.join(run_dir, "tmp"))
        if a.workload == "gate_job_bound":
            gen.gen_gate(inp, a.seed)
        else:
            truth = gen.gen_etl(inp, a.seed)
        work = os.path.join(run_dir, "work")
        result_file = os.path.join(run_dir, "result.json")
        run_jvm(cp, ["--workload", a.workload, "--input", inp, "--work", work,
                     "--seconds", str(a.seconds), "--trace", str(a.trace), "--out", result_file],
                run_dir, a.trace == 1, build_s)
        res = json.load(open(result_file))
        passes = res["passes"]
        # the check reads what the last pass's operations that did not
        # fail wrote
        last = passes[-1]
        if a.workload == "gate_job_bound":
            oracles = {r: s for r, s in res["oracle_sql"].items() if r not in last["failed"]}
            errors = check.check_gate(inp, res["output_dir"], oracles)
        elif not last["failed"]:
            errors = check.check_etl(inp, res["output_dir"], truth, res["audit"])
        else:
            errors = []
        for e in errors:
            print(f"perfbench: check failed: {e}", file=sys.stderr)

        median = lambda key: statistics.median(p[key] for p in passes)
        if a.trace == 1:
            missing = [m["name"] for m in spec["per_layer"] if m["name"] not in last["layers"]]
            if missing:
                fail(f"trace lacks per-layer metrics {missing}")
            values = {m["name"]: statistics.median(p["layers"][m["name"]] for p in passes)
                      for m in spec["per_layer"]}
            names = spec["per_layer"]
        else:
            values = {"setup_s": res["warmup_end_ms"] / 1e3 - T_START - build_s,
                      "wall_s": median("wall_s"), "cpu_s": median("cpu_s"),
                      "peak_rss_mb": res["peak_rss_mb"]}
            names = spec["end_to_end"]
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in names}
        # the warm-up pass counts among the operations attempted
        print(json.dumps({"correct": not errors, "attempted": passes[0]["ops"] * (len(passes) + 1),
                          "failed": len(res["warmup_failed"]) + sum(len(p["failed"]) for p in passes),
                          "metrics": metrics}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
