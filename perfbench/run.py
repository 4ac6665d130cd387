#!/usr/bin/env python3
"""Layered benchmark for graft.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds graft and the benchmark from source with sbt the first time (and
again whenever a source file changes), then runs one benchmark process on
Spark local[4]. The last line of standard output is the JSON result.
Build output, scratch data and traces stay under .bench_build/ and
perfbench/target/.
"""
import hashlib
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("backfill_rows", "incremental")
RUN_TIMEOUT_S = 175
BUILD_TIMEOUT_S = 840

# Spark 4 on JDK 17 needs these outside spark-submit (as in the root build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def parse(argv):
    opts = {"workload": None, "seed": "1", "seconds": "10", "trace": "0"}
    it = iter(argv)
    for a in it:
        key = a[2:] if a.startswith("--") else None
        if key not in opts:
            fail(f"unknown argument {a}")
        opts[key] = next(it, None)
    if opts["workload"] not in WORKLOADS:
        fail(f"--workload must be one of {', '.join(WORKLOADS)}")
    for k in ("seed", "seconds"):
        if opts[k] is None or not opts[k].lstrip("-").isdigit():
            fail(f"--{k} must be a whole number")
    if opts["trace"] not in ("0", "1"):
        fail("--trace must be 0 or 1")
    return opts


def sources():
    """Every file the build reads, in a stable order."""
    roots = [os.path.join(ROOT, "src", "main", "scala"),
             os.path.join(HERE, "src", "main"), os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)
                      if n.endswith((".scala", ".sbt", ".properties"))]
    return files


def fingerprint():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation: set SPARK_HOME")
    return home


def build(env):
    """Compile with sbt unless the sources are unchanged; return the classpath."""
    stamp = os.path.join(OUT, "stamp")
    cp_file = os.path.join(OUT, "classpath")
    fp = fingerprint()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as fh:
            if fh.read() == fp:
                with open(cp_file) as fc:
                    return fc.read()
    if not shutil.which("sbt"):
        fail("sbt is not on PATH")
    os.makedirs(OUT, exist_ok=True)
    benv = dict(env)
    benv.setdefault("COURSIER_MODE", "offline")
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=benv, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, timeout=BUILD_TIMEOUT_S)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or "classes" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp, "w") as fh:
        fh.write(fp)
    return cp


def main():
    opts = parse(sys.argv[1:])
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("graft sources not found next to perfbench/; run from a full checkout")
    env = dict(os.environ)
    env["SPARK_HOME"] = spark_home()
    cp = build(env)
    tmp = os.path.join(ROOT, ".bench_build", "perfbench-tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main"]
    for k in ("workload", "seed", "seconds", "trace"):
        cmd += [f"--{k}", opts[k]]
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdin=subprocess.DEVNULL,
                            start_new_session=True)
    try:
        rc = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        # a killed run leaves its scratch data behind
        shutil.rmtree(os.path.join(ROOT, ".bench_build", f"perfbench-work-{proc.pid}"),
                      ignore_errors=True)
    sys.exit(rc)


if __name__ == "__main__":
    main()
