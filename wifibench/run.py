#!/usr/bin/env python3
"""Build the library and the benchmark from source, then run one workload.

    python3 wifibench/run.py --workload ingest_replay --seed 7 --seconds 15 --trace 0

Run it from the root of a checkout. The first call compiles
`src/main/scala` and `wifibench/src` with the Scala compiler that ships in
the Spark distribution (found through SPARK_HOME, or through `spark-submit`
on PATH) into `.bench_build/wifibench`; later calls reuse that build until a
source file changes. Every file a run writes stays under `.bench_build`.

The last line of standard output is one JSON object:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
The exit code is 0 only when every operation and every output check passed.
Extra options for development and the benchmark's own tests:
    --scale X   shrink (X < 1) or grow the generated world
    --fault     corrupt one output before it is checked (the run must fail)
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
LIB_SRC = os.path.join(REPO, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
OUT = os.path.join(REPO, ".bench_build", "wifibench")
RUN_TIMEOUT_S = 170

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[wifibench] {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        fail("no Spark distribution found (set SPARK_HOME)")
    return os.path.join(jars, "*")


def scala_sources(root):
    found = []
    for d, _, files in os.walk(root):
        found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def compile_to(dest, sources, classpath):
    if os.path.isdir(dest):
        shutil.rmtree(dest)
    os.makedirs(dest)
    argfile = dest + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(sources) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={OUT}",
           "-cp", classpath, "scala.tools.nsc.Main", "-nowarn",
           "-d", dest, "-classpath", classpath, "@" + argfile]
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        fail(f"compilation into {dest} failed")


def digest(paths, seed=""):
    h = hashlib.sha256(seed.encode())
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(jars):
    """Compile the library, then the benchmark against it; each step is
    skipped while its sources (and, for the benchmark, the library) are
    unchanged since the last build."""
    lib = scala_sources(LIB_SRC)
    if not lib:
        fail(f"library sources not found under {LIB_SRC}")
    os.makedirs(OUT, exist_ok=True)
    lib_key = digest(lib)
    steps = [("lib", lib, jars, lib_key),
             ("bench", scala_sources(BENCH_SRC),
              os.pathsep.join([os.path.join(OUT, "lib"), jars]), None)]
    for name, sources, classpath, key in steps:
        key = key or digest(sources, lib_key)
        stamp = os.path.join(OUT, name + ".stamp")
        if os.path.exists(stamp) and open(stamp).read() == key:
            continue
        print(f"[wifibench] compiling {name}", file=sys.stderr)
        compile_to(os.path.join(OUT, name), sources, classpath)
        with open(stamp, "w") as f:
            f.write(key)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["ingest_replay", "refine_dense", "serve_mixed"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--scale", type=float, default=1.0)
    ap.add_argument("--fault", action="store_true")
    a = ap.parse_args()

    jars = spark_jars()
    build(jars)
    workdir = os.path.join(OUT, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    opens = [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = (["java", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={workdir}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-Dspark.ui.enabled=false"] + opens +
           ["-cp", os.pathsep.join([os.path.join(OUT, "bench"), os.path.join(OUT, "lib"), jars]),
            "graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--scale", str(a.scale),
            "--workdir", workdir,
            "--trace-out", os.path.join(OUT, "traces", f"{a.workload}-{a.seed}.json")]
           + (["--fault"] if a.fault else []))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, cwd=REPO)

    def stop(signum, _frame):
        # take the JVM down with us and leave no run directory behind
        proc.kill()
        proc.wait()
        shutil.rmtree(workdir, ignore_errors=True)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    watchdog = threading.Timer(RUN_TIMEOUT_S, proc.kill)
    watchdog.start()
    last = None
    try:
        for line in proc.stdout:
            line = line.rstrip("\n")
            if line.startswith("{"):
                last = line
            else:
                print(line, flush=True)
        code = proc.wait()
    finally:
        timed_out = not watchdog.is_alive() and proc.returncode is not None and proc.returncode < 0
        watchdog.cancel()
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(workdir, ignore_errors=True)
    if timed_out:
        fail(f"the run exceeded {RUN_TIMEOUT_S} s and was stopped")
    if last is None:
        fail(f"the run printed no result (exit {code})")
    print(last, flush=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
