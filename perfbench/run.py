#!/usr/bin/env python3
"""Run one benchmark workload from the root of a source checkout.

    python3 perfbench/run.py --workload search --seed 1 --seconds 10 --trace 0

Builds the program and the harness from source with sbt (offline) the first
time and whenever a source file changes, then runs the harness on the JVM.
Generated inputs, indexes and per-run records go under the build directory
(`$CARGO_TARGET_DIR`, default `.bench_build`). The last line of stdout is
the result object; a failed build or run exits non-zero without one.
"""
import argparse
import hashlib
import json
import os
import subprocess
import sys

ROOT = os.getcwd()
HERE = os.path.relpath(os.path.dirname(os.path.abspath(__file__)), ROOT)
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 880

# Spark 4 on JDK 17 outside spark-submit needs these (same list as the
# root build's javaOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads: the program's build and sources, and the
    harness's."""
    roots = ["build.sbt", "project", "src/main", f"{HERE}/build.sbt", f"{HERE}/project",
             f"{HERE}/src/main"]
    out = []
    for r in roots:
        p = os.path.join(ROOT, r)
        if os.path.isfile(p):
            out.append(p)
        for d, dirs, files in os.walk(p):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            out += [os.path.join(d, f) for f in files
                    if f.endswith((".scala", ".java", ".sbt", ".properties"))]
    return sorted(set(out))


def fingerprint():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(build_dir):
    """Compile with sbt unless the sources are unchanged since the last
    build; return the runtime classpath."""
    stamp = os.path.join(build_dir, "classpath.json")
    fp = fingerprint()
    if os.path.exists(stamp):
        with open(stamp) as fh:
            cached = json.load(fh)
        if cached.get("fingerprint") == fp:
            return cached["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    tmp = os.path.join(build_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Xmx2g", f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    # Also covers the JVMs the sbt launcher starts without SBT_OPTS.
    env["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    print("perfbench: building with sbt", file=sys.stderr)
    try:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "export Runtime/fullClasspath"],
                           cwd=os.path.join(ROOT, HERE), env=env, stdin=subprocess.DEVNULL,
                           stdout=subprocess.PIPE, text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        die("build timed out", 3)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "[error]" in p.stdout:
        sys.stderr.write(p.stdout[-4000:])
        die("build failed", 3)
    cp = lines[-1].strip()
    os.makedirs(build_dir, exist_ok=True)
    with open(stamp, "w") as fh:
        json.dump({"fingerprint": fp, "classpath": cp}, fh)
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    a = ap.parse_args()

    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            workloads = [w["name"] for w in json.load(fh)["workloads"]]
    except (OSError, ValueError, KeyError) as e:
        die(f"cannot read BENCHMARK.json: {e}")
    if a.workload not in workloads:
        die(f"unknown workload '{a.workload}' (have {', '.join(workloads)})")
    for need in ("build.sbt", "src/main/scala"):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"no program sources here ({need} missing): run from a source checkout")

    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    cp = build(build_dir)
    tmp = os.path.join(build_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cores = max(1, min(4, os.cpu_count() or 1))
    cmd = ["java", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--work", build_dir,
            "--cores", str(cores)]
    proc = subprocess.Popen(cmd, cwd=build_dir, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        die("run timed out", 4)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stdout.write(out[-4000:] + "\n")
        die(f"run failed (exit {proc.returncode})", 5)
    for l in lines[:-1]:
        print(l)
    print(lines[-1])


if __name__ == "__main__":
    main()
