#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala of the
checkout) together with the benchmark harness (perfbench/src) into one
classes directory, with the Scala compiler that ships in $SPARK_HOME/jars.

    python3 perfbench/build.py        # prints the classes directory

The build is skipped when a hash of every source file matches the last
successful build. Output goes under .bench_build/ at the checkout root.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
BENCH_SRC = Path(__file__).resolve().parent / "src"
OUT = ROOT / ".bench_build" / "perfbench"


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not (Path(home) / "jars").is_dir():
        raise BuildError("SPARK_HOME must point at a Spark install with a jars/ directory")
    return str(Path(home) / "jars" / "*")


def sources():
    if not PROGRAM_SRC.is_dir():
        raise BuildError(f"program sources not found at {PROGRAM_SRC}")
    files = sorted(PROGRAM_SRC.rglob("*.scala")) + sorted(BENCH_SRC.rglob("*.scala"))
    if not files:
        raise BuildError("no Scala sources found")
    return files


CLASSES = OUT / "classes"
# A fixed heap, so the collector's heap sizing is the same in every run
# (with a growable one, peak RSS varied by a fifth between runs of one seed).
HEAP = "2g"
# Spark on JDK 17 outside spark-submit needs the module opens that
# spark-submit would add (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def java_cmd(work, main_args):
    """Command line that runs perfbench.Main from the built classes, with
    its temporary files under `work`."""
    cmd = ["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", f"-Djava.io.tmpdir={work / 'tmp'}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", f"{CLASSES}{os.pathsep}{spark_jars()}", "perfbench.Main", *main_args]


def ensure_built(log=sys.stderr):
    """Compile if needed; return whether this call compiled."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp = OUT / "stamp"
    if stamp.exists() and stamp.read_text() == h.hexdigest() and CLASSES.is_dir():
        return False
    shutil.rmtree(CLASSES, ignore_errors=True)
    stamp.unlink(missing_ok=True)
    CLASSES.mkdir(parents=True)
    argfile = OUT / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    jars = spark_jars()
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(CLASSES), "-classpath", jars, "@" + str(argfile)]
    print(f"[perfbench] compiling {len(files)} sources", file=log, flush=True)
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise BuildError(f"scalac exited with {r.returncode}")
    stamp.write_text(h.hexdigest())
    return True


if __name__ == "__main__":
    try:
        ensure_built()
        print(CLASSES)
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
