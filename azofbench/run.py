#!/usr/bin/env python3
"""Runs one azofbench workload against the azof engine in this checkout.

    python3 azofbench/run.py --workload timetravel|ingest \
        --seed N --seconds S --trace 0|1

Builds the engine sources (src/main) and the benchmark sources
(azofbench/src) with the Scala compiler shipped in the Spark
distribution, once per source tree, into .bench_build/ at the checkout
root; then runs the measuring JVM. Every file the run makes lives under
the checkout: the build under .bench_build/, the lakes in a run-owned
directory under .bench_run/ that is deleted at exit, and the span file
of a traced run under .bench_out/. The last stdout line is the result
object; a failed build or run exits non-zero without printing one.
"""
import argparse
import hashlib
import os
import re
import shutil
import signal
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("timetravel", "ingest")
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 needs these outside spark-submit (mirrors build.sbt).
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
    print(f"azofbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME, else the directory the
    engine's own build.sbt names as its unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    build = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(build):
        with open(build) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    fail("no Spark distribution: set SPARK_HOME or run from a checkout "
         "whose build.sbt names the Spark jars directory")


def source_files():
    """Every engine source and every benchmark file but its docs: the
    build key."""
    engine = os.path.join(ROOT, "src", "main")
    if not os.path.isdir(os.path.join(engine, "scala")):
        fail("engine sources (src/main/scala) not found next to azofbench/")
    out = []
    for base in (engine, HERE):
        for d, _, names in os.walk(base):
            out.extend(os.path.join(d, n) for n in names if not n.endswith(".md"))
    return sorted(out)


def java_command(jars, cp, tmpdir):
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + [
        "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData",
        # JVM warnings go to stderr: stdout carries only the result
        "-Xlog:disable", "-Xlog:all=warning:stderr",
        f"-Djava.io.tmpdir={tmpdir}",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-cp", cp + os.pathsep + os.path.join(jars, "*")]


def build(jars):
    """Compile engine + benchmark into one jar under
    .bench_build/azofbench-<hash>/, keyed on every source byte, so an
    unchanged tree builds once."""
    files = source_files()
    h = hashlib.sha256()
    for p in files:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    h.update(",".join(sorted(os.listdir(jars))).encode())
    digest = h.hexdigest()[:16]
    out = os.path.join(ROOT, ".bench_build", f"azofbench-{digest}")
    if os.path.isfile(os.path.join(out, "done")):
        return out, digest
    t0 = time.time()
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "classes"))
    scala = [p for p in files if p.endswith(".scala")]
    with open(os.path.join(tmp, "sources.txt"), "w") as f:
        f.write("\n".join(scala) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn",
           "-d", os.path.join(tmp, "classes"),
           "-classpath", os.path.join(jars, "*"),
           "@" + os.path.join(tmp, "sources.txt")]
    if subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr).returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail("compile failed")
    res = os.path.join(ROOT, "src", "main", "resources")
    classes = os.path.join(tmp, "classes")
    if os.path.isdir(res):
        shutil.copytree(res, classes, dirs_exist_ok=True)
    # a jar, not a directory: the JVM's class-data archive needs one
    with zipfile.ZipFile(os.path.join(tmp, "azofbench.jar"), "w") as z:
        for d, _, names in os.walk(classes):
            for n in names:
                z.write(os.path.join(d, n),
                        os.path.relpath(os.path.join(d, n), classes))
    shutil.rmtree(classes)
    with open(os.path.join(tmp, "done"), "w") as f:
        f.write(f"{time.time() - t0:.1f}\n")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    print(f"azofbench: built {digest} in {time.time() - t0:.0f}s",
          file=sys.stderr)
    return out, digest


def git_commit():
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--inject-wrong", action="store_true",
                    help="feed the verifier one deliberately wrong answer "
                         "(the run must then report failed > 0)")
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be >= 1")
    jars = spark_jars()
    out, digest = build(jars)

    run_dir = os.path.join(ROOT, ".bench_run", f"{os.getpid()}-{a.workload}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    out_dir = os.path.join(ROOT, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    # The first run of a build records the classes it loaded into a
    # class-data archive; later runs map it and start their JVM faster.
    jsa = os.path.join(out, "azofbench.jsa")
    dump = f"{jsa}.{os.getpid()}"
    cds = (f"-XX:SharedArchiveFile={jsa}" if os.path.isfile(jsa)
           else f"-XX:ArchiveClassesAtExit={dump}")
    cmd = java_command(jars, os.path.join(out, "azofbench.jar"),
                       os.path.join(run_dir, "tmp")) + [
        cds, "azofbench.Main",
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--run-dir", run_dir, "--out-dir", out_dir,
        "--commit", git_commit(), "--build", digest]
    if a.inject_wrong:
        cmd.append("--inject-wrong")
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        if os.path.isfile(dump):
            os.remove(dump)
        fail(f"run exceeded {RUN_TIMEOUT_S}s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    shutil.rmtree(run_dir, ignore_errors=True)
    if os.path.isfile(dump):
        if proc.returncode == 0:
            os.replace(dump, jsa)
        else:
            os.remove(dump)
    lines = stdout.rstrip("\n").split("\n") if stdout else []
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stdout.write(stdout if proc.returncode == 0 else "")
        fail(f"measuring JVM exited with code {proc.returncode}")
    sys.stdout.write(stdout)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
