#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

Usage (from the repository root):

    python3 perfbench/run.py --workload medallion|serve|curation \
        --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --selfcheck --seed N

The first call builds the engine plus the benchmark's Scala sources
(perfbench/src) with sbt into .bench_build/ (or $CARGO_TARGET_DIR) and
records the classpath; later calls reuse the build until a source file
changes. Each run then starts one JVM on local[nproc], prints detail
lines, and ends with one JSON line:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
Exit code 0 only when every correctness check passed.
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
BUILD = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
STAMP = os.path.join(BUILD, "classpath.txt")
WORKLOADS = ("medallion", "serve", "curation")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def fingerprint():
    """Hash of every input of the build: sbt files and Scala sources."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile the engine and the benchmark; return the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        die("no engine sources next to perfbench/ (build.sbt, src/main/scala)")
    fp = fingerprint()
    if os.path.isfile(STAMP):
        with open(STAMP) as fh:
            lines = fh.read().splitlines()
        if len(lines) == 2 and lines[0] == fp:
            return lines[1]
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    target = json.dumps(os.path.join(BUILD, "target"))
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           f"set target := file({target})",
           'set Compile / unmanagedSourceDirectories += baseDirectory.value / "perfbench" / "src"',
           "compile", "export Runtime / fullClasspath"]
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        try:
            p = subprocess.run(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                               stderr=fh, text=True, timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            die(f"build timed out; see {log}")
        fh.write(p.stdout)
    cps = [l for l in p.stdout.splitlines() if ".jar" in l and os.pathsep in l
           and not l.startswith("[")]
    if p.returncode != 0 or not cps:
        die(f"build failed (exit {p.returncode}); see {log}")
    with open(STAMP, "w") as fh:
        fh.write(fp + "\n" + cps[-1] + "\n")
    return cps[-1]


def java_cmd(cp, work, main_args):
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", "-XX:-UsePerfData"] + opens +
            ["-Xmx3g", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC",
             f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
             "-cp", cp, "graft.perfbench.Main", "--work", work] + main_args)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selfcheck", action="store_true",
                    help="check the generator: same seed same bytes, other seed other bytes")
    a = ap.parse_args()
    if not a.selfcheck and not a.workload:
        ap.error("--workload is required")
    cp = build()
    work = os.path.join(BUILD, "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    if a.selfcheck:
        args = ["--selfcheck", "1", "--seed", str(a.seed)]
    else:
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace)]
    log = os.path.join(BUILD, "last-run.log")
    result = None
    with open(log, "w") as err:
        p = subprocess.Popen(java_cmd(cp, work, args), cwd=ROOT, stdout=subprocess.PIPE,
                             stderr=err, text=True)
        try:
            out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            die(f"run exceeded {RUN_TIMEOUT_S} s; see {log}")
    for line in out.splitlines():
        if line.startswith("PERFBENCH_RESULT "):
            result = json.loads(line[len("PERFBENCH_RESULT "):])
        else:
            print(line)
    shutil.rmtree(work, ignore_errors=True)
    if a.selfcheck:
        sys.exit(p.returncode)
    if result is None:
        die(f"no result (exit {p.returncode}); see {log}")
    print(json.dumps(result))
    sys.exit(0 if p.returncode == 0 and result["correct"] else 1)


if __name__ == "__main__":
    main()
