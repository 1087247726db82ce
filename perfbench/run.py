#!/usr/bin/env python3
"""Runs one benchmark workload of graft and prints its result line.

    python3 perfbench/run.py --workload incr_build --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

Builds the benchmark first when its sources changed (see build.py), then
runs it in one JVM with a pinned heap. The first run after a build dumps
the classes it loaded into a class-data archive, and later runs map it,
which cuts JVM start-up; it leaves what the runs measure unchanged. Every run works in a fresh
directory under .bench_build/runs that is removed afterwards. The last line
of standard output is the result JSON; the exit code is not 0 when the
build, a correctness check or an operation failed.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

HEAP = "2g"
# the module opens Spark needs on JDK 17 outside spark-submit
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
RUN_LIMIT_S = 175


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawTextHelpFormatter)
    ap.add_argument("--workload", choices=["incr_build", "ingest_serve"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")

    try:
        jar = build.build()
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2

    tag = "selftest" if a.selftest else f"{a.workload}-s{a.seed}-t{a.trace}"
    work = build.OUT / "runs" / f"{tag}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    archive = build.OUT / "perfbench.jsa"
    cds = (f"-XX:SharedArchiveFile={archive}" if archive.is_file()
           else f"-XX:ArchiveClassesAtExit={archive}")
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", cds, "-Xlog:disable",
            f"-Djava.io.tmpdir={work / 'tmp'}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join([str(jar)] + build.spark_classpath()),
              "graft.perfbench.Main", "--dir", str(work)])
    if a.selftest:
        cmd += ["--selftest"]
    else:
        cmd += ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace)]
    limit = 900 if a.selftest else RUN_LIMIT_S
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    lines = []
    try:
        out, _ = proc.communicate(timeout=limit)
        lines = out.splitlines()
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print(f"perfbench: run exceeded {limit} s", file=sys.stderr)
        return 3
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    result = [l for l in lines if l.startswith('{"correct"')]
    for l in lines:
        if l not in result:
            print(l)
    if result:
        print(result[-1])
    if proc.returncode != 0 or (not a.selftest and not result):
        print(f"perfbench: run failed (exit {proc.returncode})", file=sys.stderr)
        return proc.returncode or 1
    return 0

if __name__ == "__main__":
    sys.exit(main())
