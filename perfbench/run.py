#!/usr/bin/env python3
"""Run one workload of the graft benchmark and print its result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. The first run builds the engine and the
benchmark with sbt (offline) and copies the compiled classes to
`perfbench/work/build-<key>/`, where the key is a hash of every source file,
so a changed tree builds again and a tree seen before runs its own classes.
The generated tables are cached in `perfbench/work/tables-<key>/`, keyed by
a hash of their generator. Each run owns one scratch root,
`perfbench/work/scratch-<pid>`, used as the JVM's `java.io.tmpdir` and Spark's
local dir, and deletes it when the run ends. The last line of standard output
is the JSON result; nothing is printed there when the run fails.
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
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
WORKLOADS = ("listings_etl", "corpus_dedup_search")
# the JVM must end before this, so the whole run stays inside 180 s
JVM_TIMEOUT_S = 165
# same module openings the engine's build passes to its forked JVMs
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def file_hash(inputs):
    h = hashlib.sha256()
    for path in inputs:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def source_hash():
    """Hash of every file the build reads."""
    inputs = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
              os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, dirs, files in os.walk(top):
            dirs.sort()
            inputs += [os.path.join(d, f) for f in sorted(files)]
    return file_hash(inputs)


def classpath(key):
    """The benchmark's runtime classpath for sources `key`, building first if
    they have not been built. Every classpath entry inside the checkout (the
    compiled classes, which the next build overwrites) is copied under
    `build-<key>/`; the rest are jars from the dependency cache."""
    build = os.path.join(WORK, f"build-{key}")
    stamp = os.path.join(build, "classpath.txt")
    if os.path.exists(stamp):
        with open(stamp) as f:
            return f.read().strip()
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    env = dict(os.environ, COURSIER_MODE="offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "-Dsbt.override.build.repos=true", "export perfbench/Runtime/fullClasspath"]
    print("perfbench: building with sbt", file=sys.stderr)
    proc = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                          stderr=subprocess.STDOUT, text=True, timeout=840)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    tmp = build + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    entries = []
    for i, entry in enumerate(lines[-1].strip().split(os.pathsep)):
        if os.path.abspath(entry).startswith(ROOT + os.sep) and os.path.exists(entry):
            name = f"{i:03d}-{os.path.basename(entry)}"
            copy = shutil.copytree if os.path.isdir(entry) else shutil.copy2
            copy(entry, os.path.join(tmp, name))
            entry = os.path.join(build, name)
        entries.append(entry)
    cp = os.pathsep.join(entries)
    with open(os.path.join(tmp, "classpath.txt"), "w") as f:
        f.write(cp)
    shutil.rmtree(build, ignore_errors=True)
    os.rename(tmp, build)
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pin", help="write the read fingerprints to this file instead of checking them")
    args = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no engine sources: {need} is missing next to perfbench/")
    cp = classpath(source_hash())
    tables = os.path.join(WORK, "tables-" + file_hash(
        [os.path.join(HERE, "src", "main", "scala", "graftbench", "Data.scala")]))

    scratch = os.path.join(WORK, f"scratch-{os.getpid()}")
    os.makedirs(scratch)
    out = os.path.join(WORK, "out")
    os.makedirs(out, exist_ok=True)
    java = ["java", "-Xmx4g", "-Xmn256m", "-XX:TieredStopAtLevel=1", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={scratch}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        java += ["--add-opens", f"{p}=ALL-UNNAMED"]
    java += ["-cp", cp, "graftbench.Main", "--workload", args.workload, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace),
             "--fingerprints", os.path.join(HERE, "fingerprints.tsv"),
             "--tables", tables, "--out", out]
    if args.pin:
        java += ["--pin", os.path.abspath(args.pin)]

    proc = subprocess.Popen(java, cwd=scratch, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                            text=True, start_new_session=True)
    result = None
    try:
        deadline = time.time() + JVM_TIMEOUT_S
        signal.signal(signal.SIGTERM, lambda *_: sys.exit(3))
        stdout, stderr = proc.communicate(timeout=max(1, deadline - time.time()))
        lines = stdout.splitlines()
        for line in lines[:-1]:
            print(line)
        if proc.returncode == 0 and lines and not args.pin:
            result = json.loads(lines[-1])
        else:
            sys.stderr.write(stderr[-6000:])
    except subprocess.TimeoutExpired:
        print(f"perfbench: the JVM ran past {JVM_TIMEOUT_S} s", file=sys.stderr)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(scratch, ignore_errors=True)
    if args.pin:
        sys.exit(proc.returncode)
    if result is None:
        sys.exit(1)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
