#!/usr/bin/env python3
"""Event-store benchmark launcher.

    python3 perfbench/run.py --workload serve_mixed --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --selftest

Builds the program from the checkout's sources with the Scala compiler
that ships in the Spark jars directory the root build uses, builds the
benchmark against it, and runs one workload in a fresh JVM. Build output,
scratch stores and run records live under `.bench_build/perfbench/` in
the checkout. The last stdout line is the run's result JSON.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"
BUILD = ROOT / ".bench_build" / "perfbench"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600

# what the root build passes to forked JVMs: Spark on JDK 17 outside
# spark-submit needs these opens
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


def spark_jars():
    """The jars directory of the root build (`unmanagedBase`), or $SPARK_HOME/jars."""
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    build = ROOT / "build.sbt"
    if not build.is_file():
        fail("no build.sbt in the checkout: nothing to build")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', build.read_text())
    if not m or not Path(m.group(1)).is_dir():
        fail("cannot find the Spark jars directory named by build.sbt")
    return Path(m.group(1))


def sources(d):
    return sorted(p for p in d.rglob("*.scala") if p.is_file())


def scalac(jars, classpath, out, files):
    out.mkdir(parents=True, exist_ok=True)
    argfile = out.parent / (out.name + ".args")
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xss16m", "-Xmx2g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-nowarn", "-d", str(out), "-classpath", classpath, f"@{argfile}"]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        fail(f"compile of {out.name} failed", 3)


def build(jars):
    """Compiles program, benchmark and its tests; each step is skipped when
    its sources and everything it compiles against are unchanged."""
    main_src = ROOT / "src" / "main" / "scala"
    if not main_src.is_dir():
        fail("no src/main/scala in the checkout: nothing to build")
    classes = BUILD / "classes"
    steps = [("main", [main_src]), ("bench", [BENCH / "src"]), ("test", [BENCH / "test"])]
    cp = f"{jars}/*"
    digest = hashlib.sha256(str(sorted(p.name for p in jars.glob("*.jar"))).encode())
    for name, dirs in steps:
        files = [f for d in dirs for f in sources(d)]
        for f in files:
            digest.update(str(f.relative_to(ROOT)).encode())
            digest.update(f.read_bytes())
        stamp = BUILD / f"{name}.stamp"
        out = classes / name
        if not (stamp.is_file() and stamp.read_text() == digest.hexdigest()):
            stamp.unlink(missing_ok=True)
            shutil.rmtree(out, ignore_errors=True)
            scalac(jars, cp, out, files)
            if name == "main" and (ROOT / "src" / "main" / "resources").is_dir():
                shutil.copytree(ROOT / "src" / "main" / "resources", out, dirs_exist_ok=True)
            stamp.write_text(digest.hexdigest())
        cp = f"{out}{os.pathsep}{cp}"
    return classes


def java(jars, classes, main_class, args, tmp):
    cp = os.pathsep.join([str(classes / "test"), str(classes / "bench"),
                          str(classes / "main"), f"{jars}/*"])
    # every file the JVM, Spark or Hadoop writes stays in the checkout
    cmd = ["java", "-XX:-UsePerfData", "-Xmx3g", "-Xms3g", "-Xss8m",
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.hadoop.hadoop.tmp.dir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, main_class] + args
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"{main_class} did not finish in {RUN_TIMEOUT_S} s", 4)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    return proc.returncode, out


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true", help="run the benchmark's own tests")
    a = ap.parse_args()
    if not a.selftest and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")

    jars = spark_jars()
    BUILD.mkdir(parents=True, exist_ok=True)
    classes = build(jars)
    tmp = BUILD / "tmp" / str(os.getpid())
    work = BUILD / "work" / str(os.getpid())
    tmp.mkdir(parents=True, exist_ok=True)
    try:
        if a.selftest:
            code, out = java(jars, classes, "perfbench.SelfTest", [], tmp)
            sys.stdout.write(out)
            sys.exit(code)
        code, out = java(jars, classes, "perfbench.Main", [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", str(work), "--out", str(BUILD / "out")], tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except Exception:
        sys.stderr.write(out)
        fail(f"run printed no result (exit {code})", code or 1)
    for l in lines[:-1]:
        print(l)
    print(lines[-1])
    sys.exit(code)


if __name__ == "__main__":
    main()
