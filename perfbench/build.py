#!/usr/bin/env python3
"""Build file of the benchmark.

Compiles graft's library sources (src/main/scala) together with the
benchmark's own sources (perfbench/src) using the Scala compiler that ships
in the Spark distribution's jars, so no build tool or network is needed.
The output goes to .bench_build/perfbench/perfbench.jar and is reused while
a content stamp of every source file is unchanged.

    python3 perfbench/build.py          # build (or confirm up to date)
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
LIB_SRC = ROOT / "src" / "main" / "scala"
OUT = ROOT / ".bench_build" / "perfbench"


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    """The jars of the Spark distribution: SPARK_HOME, else the first
    `bin/spark-submit` on PATH that sits next to a `jars` directory."""
    bins = [Path(d) for d in os.environ.get("PATH", "").split(os.pathsep) if d]
    homes = [os.environ.get("SPARK_HOME")] + [b.parent for b in bins if (b / "spark-submit").is_file()]
    for home in homes:
        if home and (Path(home) / "jars").is_dir():
            return Path(home) / "jars"
    raise BuildError("no Spark distribution found (set SPARK_HOME)")


def sources():
    if not LIB_SRC.is_dir():
        raise BuildError(f"graft sources not found at {LIB_SRC}")
    lib = sorted(LIB_SRC.rglob("*.scala"))
    own = sorted((BENCH / "src").rglob("*.scala"))
    if not lib or not own:
        raise BuildError("no Scala sources to compile")
    return lib + own


def spark_classpath() -> list:
    return sorted(str(p) for p in spark_jars().glob("*.jar"))


def build(quiet: bool = False) -> Path:
    """Returns the benchmark jar, compiling first if sources changed. A rebuild
    drops the class-data archive (see run.py), which holds the old classes."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    stamp = h.hexdigest()
    jar = OUT / "perfbench.jar"
    stamp_file = OUT / "stamp"
    if jar.is_file() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return jar
    tmp = OUT / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = OUT / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    cp = os.pathsep.join(spark_classpath())
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-classpath", cp, f"@{argfile}"]
    if not quiet:
        print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       timeout=800)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    # a jar, not a directory: the JVM's class-data sharing only archives
    # classes loaded from jars
    with zipfile.ZipFile(OUT / "perfbench.jar.tmp", "w", zipfile.ZIP_DEFLATED) as z:
        for f in sorted(tmp.rglob("*")):
            if f.is_file():
                z.write(f, f.relative_to(tmp).as_posix())
    (OUT / "perfbench.jar.tmp").replace(jar)
    shutil.rmtree(tmp, ignore_errors=True)
    (OUT / "perfbench.jsa").unlink(missing_ok=True)
    stamp_file.write_text(stamp)
    return jar


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"perfbench build: {e}", file=sys.stderr)
        sys.exit(2)
