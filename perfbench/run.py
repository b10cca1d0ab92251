#!/usr/bin/env python3
"""Run one benchmark workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark driver from this checkout's sources
(once; the build is reused while the sources are unchanged), then runs the
workload in one JVM. The JVM prints every metric by name with its unit and,
as the last line of stdout, the result object. The exit code is non-zero
if the build fails, if any operation failed or returned a wrong answer, or
if the run exceeds its time limit.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = ROOT / ".bench_build"
SOURCES = [ROOT / "src" / "main" / "scala", BENCH / "src", BENCH / "build.sbt",
           BENCH / "project" / "build.properties"]
# a fixed, pre-touched heap: the resident heap is then the same 3 GB in
# every run, and peak_rss_mb (VmHWM minus the heap) is the memory the
# engine holds outside it, not the collector's heap-growth decisions
HEAP = ["-Xms3g", "-Xmx3g", "-XX:+AlwaysPreTouch"]
RUN_LIMIT_S = 170
# Spark on JDK 17 needs these outside spark-submit (the repo's build.sbt
# passes the same list to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_hash():
    h = hashlib.sha256()
    for src in SOURCES:
        files = sorted(p for p in src.rglob("*") if p.is_file()) if src.is_dir() else [src]
        for p in files:
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def build(stamp):
    """Compiles with sbt (offline) and returns the runtime classpath."""
    cp_file, stamp_file = BUILD / "classpath.txt", BUILD / "stamp.txt"
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    (BUILD / "tmp").mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + str(Path.home() / ".sbt" / "repositories"),
        "-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Dsbt.boot.lock=false",
        "-Djava.io.tmpdir=" + str(BUILD / "tmp"), "-XX:-UsePerfData", "-Xmx2g"]))
    log = BUILD / "build.log"
    with open(log, "w") as out:
        rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                              "export Runtime/fullClasspath"],
                             cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, timeout=800)
    lines = log.read_text().splitlines()
    if rc != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (exit {rc}); full log in {log}", 3)
    cp_file.write_text(lines[-1].strip())
    stamp_file.write_text(stamp)
    return lines[-1].strip()


def main():
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"engine sources not found under {ROOT / 'src'}; run from a full checkout", 2)
    stamp = source_hash()
    classpath = build(stamp)
    # the JVM's temporary files stay inside the checkout too
    tmp = ROOT / ".bench_run" / f"tmp-{os.getpid()}"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = (["java"] + [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")] +
           HEAP + ["-XX:-UsePerfData", "-Djava.io.tmpdir=" + str(tmp), "-Duser.timezone=UTC",
                   "-Dperfbench.source=" + stamp, "-cp", classpath, "perfbench.Main"] +
           sys.argv[1:])
    proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL)
    try:
        rc = proc.wait(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        rc = None
    shutil.rmtree(tmp, ignore_errors=True)
    if rc is None:
        fail(f"run exceeded {RUN_LIMIT_S} s and was stopped", 4)
    sys.exit(rc)


if __name__ == "__main__":
    main()
