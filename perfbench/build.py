"""Compile the program tree and the benchmark's JVM side.

    python3 perfbench/build.py

Compiles `src/main/scala` (the program under test, as checked out) and
`perfbench/src` with the Scala compiler that ships with the Spark jars the
program builds against, into `.bench_build/classes`. A stamp over every
source file skips the compile when nothing changed. The program's own sbt
build and its `target/` are never touched.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"
CLASSES = BUILD / "classes"


class BuildError(Exception):
    pass


def spark_jars():
    """The jar directory the program compiles against: the `unmanagedBase`
    of its sbt build, else `$SPARK_HOME/jars`."""
    sbt = ROOT / "build.sbt"
    if sbt.exists():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m and Path(m.group(1)).is_dir():
            return Path(m.group(1))
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    raise BuildError("no Spark jar directory: build.sbt names none and SPARK_HOME is unset")


def sources():
    prog = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not prog:
        raise BuildError("no program sources under src/main/scala")
    return prog + sorted((ROOT / "perfbench" / "src").rglob("*.scala"))


def build():
    """Compile if any source changed; return the run classpath."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256(str(jars).encode())
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    stamp = BUILD / "classes.stamp"
    cp = f"{CLASSES}{os.pathsep}{jars}/*"
    if CLASSES.is_dir() and stamp.exists() and stamp.read_text() == h.hexdigest():
        return cp
    shutil.rmtree(CLASSES, ignore_errors=True)
    CLASSES.mkdir(parents=True)
    argfile = BUILD / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in srcs))
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
         "-nowarn", "-d", str(CLASSES), "-classpath", f"{jars}/*", f"@{argfile}"],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    stamp.write_text(h.hexdigest())
    return cp


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(f"build: {e}")
