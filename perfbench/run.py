#!/usr/bin/env python3
"""One benchmark run of the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the program and the
harness from source with sbt (perfbench/build.sbt); later runs reuse that
build while the sources are unchanged. Each run is one JVM in local mode with
one core per processor, and gets a fresh scratch directory under
perfbench/.work that is deleted when the run ends. The last line of standard
output is the result; the full run record, with spans, is written to
perfbench/out. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
STAMP = os.path.join(TARGET, "perfbench-build.json")
WORKLOADS = ["sf001_iterative", "lakehouse_cycle"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
JVM_OPTS = [
    "-Xmx3g", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
    "-Dspark.sql.session.timeZone=UTC",
] + [x for p in [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
] for x in ("--add-opens", p + "=ALL-UNNAMED")]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    files = [os.path.join(d, f) for d in (ROOT, HERE)
             for f in ("build.sbt", os.path.join("project", "build.properties"))]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".java"))]
    return sorted(files)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Runs cmd in a process group of its own and returns (exit code,
    stdout). Every process of the group is killed when this returns, also on
    a timeout (which raises subprocess.TimeoutExpired) or a signal."""
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            text=True, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    finally:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()


def build(dig):
    """Classpath of the compiled program and harness, building if needed."""
    if os.path.exists(STAMP):
        with open(STAMP) as fh:
            stamp = json.load(fh)
        if stamp.get("digest") == dig and all(
                os.path.exists(p) for p in stamp["classpath"].split(os.pathsep)):
            return stamp["classpath"]
    print("perfbench: building program and harness with sbt", file=sys.stderr)
    tmp = os.path.join(TARGET, "tmp")
    os.makedirs(tmp, exist_ok=True)
    try:
        code, out = run_group(
            ["sbt", "-batch", "-no-colors", "-Dsbt.server.forcestart=false",
             f"-Djava.io.tmpdir={tmp}", "-J-XX:-UsePerfData",
             "export perfbench/Runtime/fullClasspath"],
            BUILD_TIMEOUT_S, cwd=HERE, stderr=subprocess.STDOUT)
    except subprocess.TimeoutExpired:
        fail(f"build exceeded {BUILD_TIMEOUT_S} s", 3)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines or "[error]" in lines[-1]:
        sys.stderr.write(out[-4000:])
        fail("build failed", 3)
    cp = lines[-1].strip()
    os.makedirs(TARGET, exist_ok=True)
    with open(STAMP, "w") as fh:
        json.dump({"digest": dig, "classpath": cp}, fh)
    return cp


def git_sha():
    try:
        top = subprocess.run(["git", "rev-parse", "--show-toplevel"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
        if top.returncode != 0 or os.path.realpath(top.stdout.strip()) != os.path.realpath(ROOT):
            return "unknown"
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
        return sha.stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[1])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    ap.add_argument("--record", action="store_true",
                    help="rewrite the expected outputs of a query workload")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail(f"program sources not found under {ROOT}/src/main/scala")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")

    def on_term(*_):
        raise SystemExit(143)
    signal.signal(signal.SIGTERM, on_term)

    dig = digest(source_files())
    cp = build(dig)

    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java"] + JVM_OPTS + [
        f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}/derby",
        f"-Dderby.stream.error.file={work}/derby.log",
        "-cp", cp, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", args.trace,
        "--root", ROOT, "--work", work, "--source-digest", dig,
        "--git-sha", git_sha()] + (["--record"] if args.record else [])
    try:
        code, out = run_group(cmd, RUN_TIMEOUT_S, cwd=work)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 4)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    sys.stdout.write("\n".join(lines) + "\n")
    if code != 0:
        fail(f"run failed with exit code {code}", code or 1)


if __name__ == "__main__":
    main()
