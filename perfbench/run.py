#!/usr/bin/env python3
"""Run one nerdspark benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <n> --trace <0|1>

Run from the root of a checkout. The first run compiles the library sources
(`src/main/scala`) together with the benchmark drivers (`perfbench/src`)
through sbt into `.bench_build/`; later runs reuse that build while no
source file changed. The build also records a JVM class archive from one
untimed pass over all workloads, which later runs map at start-up. Each run works in its own directory under
`.bench_build/work/`, removed when the run ends. Traced runs leave their
spans in `.bench_build/traces/`.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import zipfile

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORK = os.path.join(ROOT, ".bench_build", "work")
LIBRARY = os.path.join(ROOT, "src", "main", "scala")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 500
TRAIN_TIMEOUT_S = 300
# a fixed heap keeps GC behaviour and resident memory alike from run to run
JVM_HEAP = "2g"
# Spark on JDK 17 needs these when a session is created outside spark-submit
# (the list of org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def read(path):
    with open(path) as f:
        return f.read()


def source_stamp():
    """Hash of every file the build reads from the checkout."""
    h = hashlib.sha256()
    roots = [LIBRARY, os.path.join(BENCH, "src"), os.path.join(BENCH, "project")]
    files = [os.path.join(BENCH, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the whole group when it ends
    or times out, so nothing it started outlives it."""
    # Spark would otherwise put its local directories wherever these point
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS")}
    p = subprocess.Popen(cmd, start_new_session=True, env=env, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        fail(f"{cmd[0]} timed out after {timeout} s", 3)
    finally:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    return p.returncode, out


def jvm(cp, *opts):
    """The java command line every benchmark JVM starts with."""
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else shutil.which("java")
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # JVM log lines go to stderr, so the result stays the last line of stdout.
    # The client compiler only: runs are seconds long on 4 cores, and the
    # optimising compiler's threads would spend most of the timed window
    # compiling, competing with the workload for the same cores. Alone it
    # gets a 48 MB code cache, which Spark's generated classes fill within
    # half a minute, after which nothing more is compiled.
    return [java, f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:TieredStopAtLevel=1",
            "-XX:ReservedCodeCacheSize=256m", "-Xlog:disable", "-Xlog:all=warning:stderr",
            *opens, *opts, "-cp", cp]


def build():
    """Compile, pack the classes into a jar, and record a class archive of
    one untimed pass over every workload: each run then maps the archive
    instead of loading and verifying Spark's classes again, which roughly
    halves JVM and session start-up."""
    sbt = shutil.which("sbt")
    if not sbt:
        fail("sbt is not on PATH")
    code, out = run_group(
        [sbt, "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "compile", "export Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=BENCH, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True)
    lines = [l for l in out.splitlines() if "perfbench" in l and not l.startswith("[")]
    if code != 0 or not lines:
        sys.stderr.write(out[-4000:])
        fail("build failed")
    classes, *deps = lines[-1].strip().split(os.pathsep)
    jar = os.path.join(BUILD, "perfbench.jar")
    with zipfile.ZipFile(jar, "w") as z:  # class archives accept jars only
        for d, dirs, names in os.walk(classes):
            dirs.sort()
            for n in sorted(names):
                z.write(os.path.join(d, n), os.path.relpath(os.path.join(d, n), classes))
    cp = os.pathsep.join([jar, *deps])
    archive, work = os.path.join(BUILD, "classes.jsa"), os.path.join(WORK, "train")
    with open(os.path.join(BUILD, "train.log"), "w") as log:
        code, _ = run_group(jvm(cp, f"-XX:ArchiveClassesAtExit={archive}")
                            + ["perfbench.Main", "--train", work],
                            TRAIN_TIMEOUT_S, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT)
    shutil.rmtree(work, ignore_errors=True)
    if code != 0:
        # runs still work without the archive, only start slower
        print(f"perfbench: class-archive training exited with {code}; see "
              f"{os.path.relpath(log.name, ROOT)}", file=sys.stderr)
        if os.path.exists(archive):
            os.remove(archive)
    return cp


def classpath():
    """Build once per source state; return the runtime classpath and JVM
    options."""
    os.makedirs(BUILD, exist_ok=True)
    stamp, cp_file = source_stamp(), os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not (os.path.exists(cp_file) and os.path.exists(stamp_file)
                and read(stamp_file) == stamp):
            cp = build()
            with open(cp_file, "w") as f:
                f.write(cp)
            with open(stamp_file, "w") as f:
                f.write(stamp)
    archive = os.path.join(BUILD, "classes.jsa")
    return read(cp_file), \
        [f"-XX:SharedArchiveFile={archive}"] if os.path.exists(archive) else []


def expected_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["ingest", "stream_state", "serve", "refresh"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(LIBRARY, "graft")):
        fail(f"library sources not found at {os.path.relpath(LIBRARY, ROOT)}: "
             "run from the root of a nerdspark checkout")
    if not os.path.isfile(os.path.join(ROOT, "BENCHMARK.json")):
        fail("BENCHMARK.json not found at the checkout root")
    cp, share = classpath()

    work = os.path.join(WORK, f"{a.workload}-{os.getpid()}")
    cmd = [*jvm(cp, *share), "perfbench.Main", "--workload", a.workload,
           "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--work", work, "--trace-dir", os.path.join(ROOT, ".bench_build", "traces")]
    try:
        code, out = run_group(cmd, RUN_TIMEOUT_S, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.strip().splitlines()
    if code != 0 or not lines:
        fail(f"workload {a.workload} exited with code {code}", code or 1)
    result = json.loads(lines[-1])
    want = expected_metrics(a.trace)
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        fail(f"metrics differ from BENCHMARK.json: {sorted(set(got.items()) ^ set(want.items()))}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
