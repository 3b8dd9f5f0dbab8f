#!/usr/bin/env python3
"""Run one workload of the repository benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine (src/main/scala) and the benchmark (perfbench/src) from
source with the Scala compiler that ships in Spark's jars into one jar under
$CARGO_TARGET_DIR (default .bench_build), keyed by a hash of every source
file, and dumps a class-data-sharing archive of a session start so each run's
JVM does not spend seconds loading Spark's classes. Then runs
graft.perfbench.Main in a fresh JVM whose every write lands in a per-run work
directory under the build directory, removed afterwards. The last line of
stdout is the result object; on any failure nothing is printed there and the
exit code is not 0.
"""
import argparse
import glob
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_TIMEOUT_S = 170
HEAP = "2g"  # driver heap (-Xmx)
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or ".", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        die(f"no Spark/Scala jars under {jars} (set SPARK_HOME)")
    return os.path.join(jars, "*")


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    if not engine:
        die("engine sources (src/main/scala) not found next to perfbench/")
    if not bench:
        die("benchmark sources (perfbench/src) not found")
    return engine + bench


def run_group(cmd, env=None, timeout=None, stdout=None):
    """Run cmd in its own process group; kill the whole group on timeout."""
    p = subprocess.Popen(cmd, env=env, stdout=stdout, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        die(f"timed out after {timeout} s: {' '.join(cmd[:3])} ...")
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p.returncode, out


def java_cmd(work, cp, archive=None):
    # -XX:-UsePerfData: no /tmp/hsperfdata_<user> file outside the checkout
    return (["java", "-XX:-UsePerfData", f"-Xmx{HEAP}", "-Xss4m"]
            + (archive or [])
            + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
               f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-cp", cp])


def run_env(work):
    for d in ("tmp", "scratch", "local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_SCRATCH_DIR": os.path.join(work, "scratch"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
    })
    env.pop("SPARK_GRAFT_MASTER", None)
    return env


def build(build_dir, jars):
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    classes = os.path.join(build_dir, "classes")
    jar = os.path.join(build_dir, "perfbench.jar")
    archive = os.path.join(build_dir, "session.jsa")
    stamp_file = os.path.join(build_dir, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return jar, archive
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    for f in (stamp_file, jar, archive):
        if os.path.exists(f):
            os.remove(f)
    argfile = os.path.join(build_dir, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs) + "\n")
    rc, _ = run_group(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
                       "-nowarn", "-classpath", jars, "-d", classes, "@" + argfile],
                      timeout=800)
    if rc != 0:
        die("compilation failed")
    # class-data sharing archives classes from jars only
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for d, _, files in os.walk(classes):
            for f in files:
                full = os.path.join(d, f)
                z.write(full, os.path.relpath(full, classes))
    shutil.rmtree(classes)
    work = os.path.join(build_dir, "work-cds")
    try:
        rc, _ = run_group(java_cmd(work, jar + os.pathsep + jars,
                                   [f"-XX:ArchiveClassesAtExit={archive}"])
                          + ["graft.perfbench.SessionStart"],
                          env=run_env(work), timeout=300, stdout=subprocess.DEVNULL)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0 and os.path.exists(archive):
        os.remove(archive)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return jar, archive


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[1])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    jars = spark_jars()
    build_dir = os.path.abspath(os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build")))
    os.makedirs(build_dir, exist_ok=True)
    jar, archive = build(build_dir, jars)

    work = os.path.join(build_dir, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    env = run_env(work)
    cds = [f"-XX:SharedArchiveFile={archive}"] if os.path.exists(archive) else []
    cmd = (java_cmd(work, jar + os.pathsep + jars, cds)
           + ["graft.perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--work", work,
              "--spec", os.path.join(HERE, "spec.json"),
              "--bench", os.path.join(ROOT, "BENCHMARK.json")])
    try:
        rc, out = run_group(cmd, env=env, timeout=RUN_TIMEOUT_S, stdout=subprocess.PIPE)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.decode("utf-8", "replace").splitlines() if l.strip()]
    if rc != 0 or not lines or not lines[-1].startswith('{"correct"'):
        sys.stderr.write("\n".join(lines[-20:]) + "\n")
        die(f"benchmark run failed (exit {rc})")
    print("\n".join(lines))


if __name__ == "__main__":
    main()
