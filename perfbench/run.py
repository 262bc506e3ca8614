#!/usr/bin/env python3
"""Run one benchmark workload in a fresh JVM and print its result line.

    python3 perfbench/run.py --workload news_ingest --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --self-check --seed 1

Run from the repository root. The library (src/main/scala) and the
benchmark (perfbench/src) are compiled with the Scala compiler that ships
in Spark's jars, each into a directory under .bench_build named by a hash
of its sources, and reused while the sources are unchanged. Each run gets
its own scratch directory under .bench_run (lake root, java.io.tmpdir,
spark.local.dir), deleted when the JVM exits. The last line on stdout is
the JSON result printed by perfbench.Main.
"""
import argparse
import glob
import hashlib
import os
import re
import shutil
import signal
import subprocess
import sys
import time

WORKLOADS = ("news_ingest", "corpus_curate")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600

# build.sbt's javaOptions: module opens for Spark on JDK 17, UTC, UI off.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars(root):
    """$SPARK_HOME/jars, or the jar directory build.sbt's unmanagedBase names."""
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open(os.path.join(root, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        if not m:
            fail("build.sbt names no unmanagedBase jar directory (set SPARK_HOME)")
        jars = m.group(1)
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        fail(f"no Spark jars with a Scala compiler under {jars} (set SPARK_HOME)")
    return jars


def sources(root):
    files = sorted(glob.glob(os.path.join(root, "**", "*.scala"), recursive=True))
    if not files:
        fail(f"no Scala sources under {root}")
    return files


def digest(root, files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def compile_into(build, name, files, classpath):
    """Compile `files` into .bench_build/<name>, reusing a finished build."""
    out = os.path.join(build, name)
    if os.path.exists(os.path.join(out, ".ok")):
        return out
    prefix = name.split("-")[0] + "-"
    for old in glob.glob(os.path.join(build, prefix + "*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = out + ".tmp"
    os.makedirs(tmp)
    argfile = os.path.join(build, name + ".args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    t0 = time.time()
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", classpath,
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", classpath, "@" + argfile]
    res = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr,
                         timeout=BUILD_TIMEOUT_S)
    os.remove(argfile)
    if res.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail(f"compiling {name} failed")
    os.rename(tmp, out)
    open(os.path.join(out, ".ok"), "w").close()
    print(f"perfbench: built {name} in {time.time() - t0:.1f}s", file=sys.stderr)
    return out


def heap():
    # A fixed heap (initial = max), so the resident-set peak follows the
    # program and not G1's heap sizing: with build.sbt's growable 8g heap
    # the peak swung between 1.9 and 3.3 GB across runs of the same code.
    return os.environ.get("SPARK_DRIVER_MEM", "3g")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-check", action="store_true",
                    help="check the input generator (no Spark) and exit")
    args = ap.parse_args()
    if not args.self_check and args.workload is None:
        fail("--workload is required")

    root = os.getcwd()
    lib_src = os.path.join(root, "src", "main", "scala")
    bench_src = os.path.join(root, "perfbench", "src")
    if not os.path.isdir(lib_src):
        fail("src/main/scala not found: run from the repository root")
    jars = spark_jars(root)
    jar_cp = os.path.join(jars, "*")

    build = os.path.join(root, ".bench_build")
    os.makedirs(build, exist_ok=True)
    lib_files = sources(lib_src)
    lib = compile_into(build, "lib-" + digest(root, lib_files), lib_files, jar_cp)
    bench_files = sources(bench_src)
    bench = compile_into(build, "bench-" + digest(root, bench_files, lib),
                         bench_files, lib + os.pathsep + jar_cp)

    run_dir = os.path.join(root, ".bench_run", f"{os.getpid()}-{time.time_ns()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cores = len(os.sched_getaffinity(0))
    # no hsperfdata file outside the checkout
    cmd = ["java", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Dderby.system.home={tmp}",
        f"-Djava.io.tmpdir={tmp}",
        f"-Xms{heap()}", f"-Xmx{heap()}",
        "-cp", os.pathsep.join([bench, lib, jar_cp]),
        "perfbench.Main",
        "--run-dir", run_dir, "--cores", str(cores), "--seed", str(args.seed),
    ]
    if args.self_check:
        cmd += ["--self-check"]
    else:
        cmd += ["--workload", args.workload, "--seconds", str(args.seconds),
                "--trace", str(args.trace)]

    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)

    def stop(*_):
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
    signal.signal(signal.SIGTERM, lambda *a: (stop(), sys.exit(143)))
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        stop()
        fail(f"run exceeded {RUN_TIMEOUT_S}s")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.stdout.write(out)
        fail(f"JVM exited with code {proc.returncode}")
    print("\n".join(lines))


if __name__ == "__main__":
    main()
