#!/usr/bin/env python3
"""Runs one workload of the graft benchmark and prints its result line.

    python3 perfbench/run.py --workload analyst_mix --seed 1 --seconds 10 --trace 0

Builds the engine and the harness from source with sbt on first use (the
classpath is cached under perfbench/work/build and rebuilt when a source
file changes), starts one JVM for the workload, and prints, as the last
stdout line, a JSON object with `correct`, `attempted`, `failed` and
`metrics` (end-to-end metrics with --trace 0, per-layer metrics with
--trace 1; names and units come from BENCHMARK.json). The line before it
is the host record: cores, load average before and after, CPU seconds per
operation, and any bytes the run left behind.

A full per-operation record (and, when traced, every span) is written to
perfbench/out/<workload>-seed<seed>-trace<0|1>.json.

--record rewrites perfbench/expected/<workload>.json from this checkout
(query workloads only).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
OUT = os.path.join(HERE, "out")
BUILD = os.path.join(WORK, "build")

RUN_LIMIT_S = 170       # one run, once built
BUILD_RUN_LIMIT_S = 870  # the first run in a checkout, which builds

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file the build reads: the engine's and the harness's."""
    roots = [os.path.join(REPO, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(REPO, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for d in (os.path.join(REPO, "project"), os.path.join(HERE, "project")):
        if os.path.isdir(d):
            files += [os.path.join(d, f) for f in os.listdir(d)
                      if f.endswith((".sbt", ".properties", ".scala"))]
    for r in roots:
        for dirpath, _, names in os.walk(r):
            files += [os.path.join(dirpath, n) for n in names]
    return sorted(files)


def fingerprint():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, REPO).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, deadline, **kw):
    """Runs cmd in its own process group; kills the group at the deadline."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=max(1.0, deadline - time.time()))
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        return None, None


def build(deadline):
    """Returns the runtime classpath, compiling with sbt when sources changed."""
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = fingerprint()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip(), False
    log("building engine and harness with sbt")
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                       "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                       " -Dsbt.offline=true -Xmx2g")
    code, out = run_bounded(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        deadline, cwd=HERE, env=env, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL, text=True)
    if code != 0:
        sys.stderr.write(out or "")
        raise SystemExit("build failed" if code is not None else "build timed out")
    cp = [line for line in out.splitlines() if "scala-2.13/classes" in line and ":" in line]
    if not cp:
        sys.stderr.write(out)
        raise SystemExit("sbt printed no classpath")
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp[-1].strip(), True


def bytes_under(path):
    total = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            p = os.path.join(dirpath, n)
            if os.path.isfile(p) and not os.path.islink(p):
                total += os.path.getsize(p)
    return total


def main():
    start = time.time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(REPO, "src", "main", "scala", "graft")):
        raise SystemExit(f"no engine sources under {REPO}/src: nothing to benchmark")
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    with open(os.path.join(HERE, "workloads.json")) as f:
        workloads = json.load(f)
    if a.workload not in workloads:
        raise SystemExit(f"unknown workload {a.workload}; one of {sorted(workloads)}")
    metrics_spec = spec["per_layer" if a.trace == "1" else "end_to_end"]

    cp, built = build(start + BUILD_RUN_LIMIT_S - 60)
    deadline = start + (BUILD_RUN_LIMIT_S if built else RUN_LIMIT_S)

    # one scratch root per workload run, wiped at start and removed at exit
    root = os.path.join(WORK, a.workload)
    shutil.rmtree(root, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(root, d))
    cores = min(4, os.cpu_count() or 1)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores))
    out_file = os.path.join(OUT, f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    cmd = (["java", "-Xmx3g", "-XX:+UseParallelGC"] + workloads[a.workload].get("jvm_options", [])
           + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Djava.io.tmpdir={root}/tmp", f"-Dspark.local.dir={root}/spark-local",
              f"-Dspark.sql.warehouse.dir={root}/warehouse", f"-Dderby.system.home={root}",
              "-cp", cp, "graftbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", a.trace, "--root", root, "--bench-dir", HERE,
              "--launch-ms", str(int(time.time() * 1000)), "--out", out_file])
    if a.record:
        cmd += ["--record", os.path.join(HERE, "expected", f"{a.workload}.json")]
    code, out = run_bounded(cmd, deadline, cwd=root, env=env, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True)
    leftover = bytes_under(root)
    shutil.rmtree(root, ignore_errors=True)
    if code is None:
        raise SystemExit("the benchmark JVM ran past its time limit and was killed")
    result = None
    for line in out.splitlines():
        if line.startswith("GRAFTBENCH "):
            result = json.loads(line[len("GRAFTBENCH "):])
        else:
            print(line, file=sys.stderr)
    if code != 0:
        raise SystemExit(f"the benchmark JVM exited with {code}")
    if a.record:
        return
    if result is None:
        raise SystemExit("the benchmark JVM printed no result")
    got = result["metrics"]
    want = [m["name"] for m in metrics_spec]
    if sorted(got) != sorted(want):
        raise SystemExit(f"metric names {sorted(got)} differ from BENCHMARK.json {sorted(want)}")
    for f in result.get("failures", []):
        log(f"failed: {f}")
    print(json.dumps({"host": dict(result["host"], leftover_bytes=leftover)}))
    print(json.dumps({
        "correct": result["correct"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {m["name"]: {"value": got[m["name"]], "unit": m["unit"]} for m in metrics_spec},
    }))


if __name__ == "__main__":
    main()
