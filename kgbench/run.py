#!/usr/bin/env python3
"""Repository benchmark: one command, run from the root of a checkout.

    python3 kgbench/run.py --workload trickle_ingest|query_mix \
        --seed N --seconds S --trace 0|1

Builds the engine and the harness from source with sbt (once per source
state), builds the fixed base store both workloads start from (once per
source state), then runs one workload in a fresh JVM. Everything it writes
lives under .bench_build/ in the checkout; the run's own store copy and
Spark scratch space are deleted when it ends.

Standard output ends with one JSON line: correct, attempted, failed and
metrics (the end-to-end metrics with --trace 0, the per-layer metrics with
--trace 1). The line before it is a context record (nproc, load average,
the md5 / file-rw calibration pair, and for a traced run the tracing
overhead against the untraced run of the same workload, seed and source
state, or null with a note when there was none).
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("trickle_ingest", "query_mix")
RUN_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"kgbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_key():
    """Hash of every input of the build: engine and harness sources."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.join(BUILD, 'tmp')}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build(key):
    """Compile engine + harness; return the runtime classpath.

    sbt exports every source state to the same jar under kgbench/target, so
    the jar is copied to a directory of its own per source key: a cached
    classpath then always names the classes of its own source state."""
    cp_file = os.path.join(BUILD, f"classpath-{key}.txt")
    if os.path.isfile(cp_file):
        with open(cp_file) as f:
            cp = f.read().strip()
        if all(os.path.exists(p) for p in cp.split(os.pathsep)):
            return cp
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    log = os.path.join(BUILD, "sbt.log")
    with open(log, "w") as out:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=sbt_env(), stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=800).returncode
    with open(log) as f:
        lines = [l.strip() for l in f if l.strip()]
    cp = next((l for l in reversed(lines)
               if not l.startswith("[") and "kgbench" in l), None)
    if rc != 0 or cp is None:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed")
    jars = os.path.join(BUILD, f"jars-{key}")
    shutil.rmtree(jars, ignore_errors=True)
    os.makedirs(jars)
    entries = []
    for p in cp.split(os.pathsep):
        if os.path.abspath(p).startswith(HERE + os.sep):
            p = shutil.copy2(p, os.path.join(jars, os.path.basename(p)))
        entries.append(p)
    cp = os.pathsep.join(entries)
    with open(cp_file + ".tmp", "w") as f:
        f.write(cp)
    os.replace(cp_file + ".tmp", cp_file)
    return cp


def java(cp, args, work, timeout, jvm=()):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = ["java", "-Xmx3g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    cmd += list(jvm)
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "kgbench.Main"] + args
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {timeout} s")
    return proc.returncode, out.splitlines()


def base_store(cp, key):
    """Build the base store once per source state. Its JVM also writes the
    class-data sharing archive the workload JVMs start from, which saves
    them loading and verifying the Spark classes again."""
    base = os.path.join(BUILD, f"base-{key}")
    if not os.path.isfile(os.path.join(base, "OK")):
        rc, lines = java(cp, ["--build-base", base], base + ".work", 600,
                         [f"-XX:ArchiveClassesAtExit={base}.jsa"])
        shutil.rmtree(base + ".work", ignore_errors=True)
        sys.stderr.write("\n".join(lines) + "\n")
        if rc != 0:
            fail("base store build failed")
    return base


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"engine sources not found under {ENGINE_SRC}")
    os.makedirs(BUILD, exist_ok=True)
    key = source_key()
    cp = build(key)
    base = base_store(cp, key)

    work = os.path.join(BUILD, "runs", str(os.getpid()))
    trace_out = os.path.join(
        BUILD, "traces", f"{a.workload}-seed{a.seed}.jsonl")
    try:
        rc, lines = java(cp, [
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--base", base, "--work", work, "--trace-out", trace_out],
            work, RUN_TIMEOUT_S, [f"-XX:SharedArchiveFile={base}.jsa"]
            if os.path.isfile(base + ".jsa") else [])
    finally:
        shutil.rmtree(work, ignore_errors=True)

    records = [json.loads(l) for l in lines if l.startswith("{")]
    context = next((r["context"] for r in records if "context" in r), None)
    result = next((r for r in records if "metrics" in r), None)
    if result is None or context is None:
        fail(f"no result (exit code {rc})")
    # the untraced run a traced run is compared with: same workload, seed
    # and source state
    last = os.path.join(BUILD, "last", f"{a.workload}-{key}-seed{a.seed}.json")
    if a.trace == 0:
        os.makedirs(os.path.dirname(last), exist_ok=True)
        with open(last, "w") as f:
            json.dump(context["e2e"], f)
    elif os.path.isfile(last):
        with open(last) as f:
            plain = json.load(f)
        context["trace_overhead_frac"] = {
            k: (context["e2e"][k] - plain[k]) / plain[k]
            for k in ("op_p50_s", "query_p50_s") if plain.get(k)}
    else:
        context["trace_overhead_frac"] = None
        context["trace_overhead_note"] = (
            "no untraced run of this workload, seed and source state; "
            "run with --trace 0 first")
    print(json.dumps({"context": context}))
    print(json.dumps(result))
    sys.exit(0 if rc == 0 and result["correct"] else 1)


if __name__ == "__main__":
    main()
