#!/usr/bin/env python3
"""Benchmark entry point: build, generate inputs, run one workload, check it.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of the repository. The first run builds the engine and
the harness with sbt (offline); later runs reuse the build. Each run
generates its inputs from the seed into a fresh directory under
``perfbench/.work``, runs the JVM harness once, checks every answer
against DuckDB, deletes the directory and prints one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json,
``--trace 1`` the per-layer metrics. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave nothing behind in the checkout

import check  # noqa: E402
import gen  # noqa: E402

CLASSPATH = os.path.join(HERE, "target", "classpath.txt")
RUN_LIMIT_S = 170  # the whole run, build excluded, stays under this
BUILD_LIMIT_S = 840

# Operator tables per workload (scale factor: lineitem = 6M x sf rows).
OPS_SF = {"ops_mix": 0.01}

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources_newer_than(path):
    stamp = os.path.getmtime(path)
    for base in ("src/main", "perfbench/src", "build.sbt", "perfbench/build.sbt"):
        top = os.path.join(ROOT, base)
        if os.path.isfile(top):
            if os.path.getmtime(top) > stamp:
                return True
            continue
        for d, _, files in os.walk(top):
            if any(os.path.getmtime(os.path.join(d, f)) > stamp for f in files):
                return True
    return False


def build(tmp):
    """Compiles the engine and the harness; writes the runtime classpath."""
    if os.path.exists(CLASSPATH) and not sources_newer_than(CLASSPATH):
        return
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(tmp, "build.log")
    with open(log, "w") as out:
        code = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                         HERE, env, out, BUILD_LIMIT_S)
    if code != 0 or not os.path.exists(CLASSPATH):
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"build failed (exit {code})")


def run_child(cmd, cwd, env, out, limit):
    """Runs a child in its own process group; kills the group on timeout
    and always waits for it to end."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return p.wait(timeout=limit)
    except subprocess.TimeoutExpired:
        return -1
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def make_inputs(workload, seed, data):
    if workload == "web_session":
        gen.web_files(os.path.join(data, "uploads"), 1, seed)
        gen.web_files(os.path.join(data, "uploads", "warm"), 1, seed, scale=0.05)
    else:
        gen.tables(os.path.join(data, "tables"), OPS_SF[workload], seed)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=16)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources not found next to perfbench/ (run from a full checkout)")
    spec = json.load(open(spec_path))
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {a.workload}")

    work = os.path.join(HERE, ".work", f"run-{os.getpid()}-{time.time_ns()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    try:
        build(tmp)
        started = time.monotonic()
        data = os.path.join(work, "data")
        make_inputs(a.workload, a.seed, data)
        t_gen = time.monotonic()
        out = os.path.join(work, "result.json")
        java = ["java", *[x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
                "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
                "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
                "-cp", open(CLASSPATH).read().strip(), "perfbench.Harness",
                "--workload", a.workload, "--data", data, "--work", os.path.join(work, "w"),
                "--out", out, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace)]
        env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
        log = os.path.join(work, "harness.log")
        with open(log, "w") as f:
            code = run_child(java, ROOT, env, f, RUN_LIMIT_S - (time.monotonic() - started))
        if code != 0 or not os.path.exists(out):
            sys.stderr.write(open(log, errors="replace").read()[-6000:])
            fail(f"harness failed (exit {code})", 1)
        t_jvm = time.monotonic()
        for line in open(log, errors="replace"):
            if line.startswith("perfbench: "):
                sys.stderr.write(line)
        res = json.load(open(out))
        failures = check.verify(a.workload, res, data)
        for msg in failures[:20]:
            print(f"perfbench: FAILED {msg}", file=sys.stderr)
        note = {"loadavg": [res["loadavg_start"], res["loadavg_end"]],
                "phases_s": {"inputs": round(t_gen - started, 2),
                             "jvm": round(t_jvm - t_gen, 2),
                             "checks": round(time.monotonic() - t_jvm, 2)},
                "timed_walls_s": res["timed_walls_s"], "timed_cpu_s": res["timed_cpu_s"],
                "e2e": res["e2e"], "layers": res["layers"]}
        if "rows" in res:
            # phase -> query -> [construction ms, execution ms, CPU ms] per pass
            split = {}
            for phase, name, _, *ms in res["rows"]:
                split.setdefault(phase, {}).setdefault(name, []).append(
                    [float(x) for x in ms])
            note["queries_ms"] = split
        print(f"perfbench: {json.dumps(note)}", file=sys.stderr)
        names = spec["per_layer"] if a.trace else spec["end_to_end"]
        got = res["layers"] if a.trace else res["e2e"]
        metrics = {m["name"]: {"value": float(got.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in names}
        failed = len(failures)
        print(json.dumps({"correct": failed == 0, "attempted": max(1, int(res["attempted"])),
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
