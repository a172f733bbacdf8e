#!/usr/bin/env python3
"""Build file of the benchmark.

1. Compiles the engine (`src/main/scala`) and the harness
   (`perfbench/scala`) with the Scala compiler that ships with the Spark
   distribution the engine builds against, into `perfbench.jar`.
2. Runs the check pass of every workload once with
   `-XX:ArchiveClassesAtExit`, leaving a class-data-sharing archive of the
   JVM's loaded classes. Runs map it at start instead of loading and
   verifying some ten thousand classes again, which takes seconds off each
   run's set-up. The archive is an optimisation only: a JVM that cannot use
   it starts without it.

Everything goes to the build dir: `$CARGO_TARGET_DIR` when set, else
`.bench_build`, relative to the repository root. A stamp over every source
and workload file skips the build when nothing changed.

Usage: python3 perfbench/build.py
"""
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
HERE = ROOT / "perfbench"
SOURCES = [ROOT / "src" / "main" / "scala", HERE / "scala"]
HEAP = "3g"
YOUNG = "1g"
# JDK 17 needs these for Spark outside spark-submit (as in build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def build_dir() -> Path:
    return ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")


def spark_jars() -> Path:
    """`$SPARK_HOME/jars`, else the jar directory the engine's own sbt build
    declares (`unmanagedBase := file(...)` in build.sbt)."""
    if os.environ.get("SPARK_HOME"):
        jars = Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', (ROOT / "build.sbt").read_text())
        if not m:
            raise SystemExit("build: set SPARK_HOME (no unmanagedBase in build.sbt)")
        jars = Path(m.group(1))
    if not any(jars.glob("spark-sql_*.jar")):
        raise SystemExit(f"build: no Spark jars under {jars}")
    return jars


def java_cmd(tmp_dir, main, *extra):
    """The JVM command line every harness JVM runs with."""
    archive = build_dir() / "classes.jsa"
    return (["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
            [f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-XX:ReservedCodeCacheSize=1g", "-XX:+ExplicitGCInvokesConcurrent",
             f"-Djava.io.tmpdir={tmp_dir}"] +
            ([f"-XX:SharedArchiveFile={archive}"] if archive.exists() else []) +
            list(extra) +
            ["-cp", os.pathsep.join([str(build_dir() / "perfbench.jar"),
                                     str(spark_jars() / "*")]), main])


def sources() -> list:
    files = sorted(p for d in SOURCES for p in d.rglob("*.scala"))
    if not any(p.is_relative_to(SOURCES[0]) for p in files):
        raise SystemExit(f"build: no engine sources under {SOURCES[0]}")
    return files


def compile_jar(files, jar: Path):
    classes = build_dir() / "classes"
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    jars = str(spark_jars() / "*")
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
                        "-nowarn", "-d", str(classes), "-cp", jars] + [str(p) for p in files],
                       stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac exited {r.returncode}")
    with zipfile.ZipFile(jar, "w") as z:
        for p in sorted(classes.rglob("*")):
            if p.is_file():
                z.write(p, p.relative_to(classes))
    shutil.rmtree(classes)


def train_archive():
    """Dump the class-data-sharing archive from a check pass over every
    workload's queries."""
    workloads = json.loads((HERE / "workloads.json").read_text())
    queries = [q for w in workloads.values() for q in w["queries"]]
    work = build_dir() / "train"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    archive = build_dir() / "classes.jsa"
    archive.unlink(missing_ok=True)
    cmd = java_cmd(work / "tmp", "perfbench.Harness", f"-XX:ArchiveClassesAtExit={archive}") + [
        "--queries", ",".join(queries), "--cores", str(len(os.sched_getaffinity(0))),
        "--data", str(HERE / "data" / "sf0.1"), "--out", str(work / "out"),
        "--tmp", str(work / "tmp"), "--log", str(work / "records.jsonl"),
        "--sink", "parquet", "--warmup", "0", "--min-passes", "0", "--seconds", "0",
        "--seed", "0", "--trace", "0"]
    with open(work / "jvm.log", "wb") as log:
        r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        archive.unlink(missing_ok=True)
        print(f"build: archive run exited {r.returncode}; runs start without it", file=sys.stderr)
    shutil.rmtree(work)


def build():
    """Compile and train if any source or workload changed."""
    files = sources()
    h = hashlib.sha256()
    for p in files + [HERE / "workloads.json"]:
        h.update(str(p.relative_to(ROOT)).encode() + b"\0" + p.read_bytes())
    stamp = build_dir() / "STAMP"
    if stamp.exists() and stamp.read_text() == h.hexdigest():
        return
    stamp.unlink(missing_ok=True)
    build_dir().mkdir(parents=True, exist_ok=True)
    compile_jar(files, build_dir() / "perfbench.jar")
    train_archive()
    stamp.write_text(h.hexdigest())


if __name__ == "__main__":
    build()
