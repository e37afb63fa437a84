"""Build file of the benchmark.

Compiles the program's main sources (``src/main/scala``) together with
the benchmark harness (``perfbench/src``) into one class directory under
``.bench_build``, using the Scala compiler that ships in Spark's jar
directory (``$SPARK_HOME/jars``), then dumps the query catalog the
registry workload samples from. The output directory is keyed by a hash
of every source and resource file, so a changed tree is rebuilt and an
unchanged one is reused.

    python3 perfbench/build.py        # prints the class directory
"""
import hashlib
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
RESOURCES = ROOT / "src" / "main" / "resources"
HARNESS_SRC = Path(__file__).resolve().parent / "src"

# Spark 4 on JDK 17 needs these when a session is built outside
# spark-submit (the list build.sbt passes to forked runs).
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


class BuildError(Exception):
    pass


def java() -> str:
    home = os.environ.get("JAVA_HOME")
    return str(Path(home) / "bin" / "java") if home else "java"


def spark_jars() -> str:
    home = os.environ.get("SPARK_HOME")
    if not home or not (Path(home) / "jars").is_dir():
        raise BuildError("SPARK_HOME must point at a Spark 4 install (its jars/ dir)")
    return str(Path(home) / "jars" / "*")


def jvm_flags() -> list:
    flags = []
    for p in ADD_OPENS:
        flags += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return flags + ["-XX:-UsePerfData"]


def _sources() -> list:
    if not PROGRAM_SRC.is_dir() or not HARNESS_SRC.is_dir():
        raise BuildError(f"missing sources: {PROGRAM_SRC} and {HARNESS_SRC} are both needed")
    files = sorted(PROGRAM_SRC.rglob("*.scala")) + sorted(HARNESS_SRC.glob("*.scala"))
    if not files:
        raise BuildError("no Scala sources found")
    return files


def source_hash() -> str:
    h = hashlib.sha256()
    extra = sorted(p for p in RESOURCES.rglob("*") if p.is_file()) if RESOURCES.is_dir() else []
    for f in _sources() + extra:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def classpath(classes: Path) -> str:
    return os.pathsep.join([str(classes), str(RESOURCES), spark_jars()])


def build(log=sys.stderr) -> tuple:
    """Return (class dir, catalog dict), compiling if the tree changed."""
    key = source_hash()
    classes = BUILD / f"classes-{key}"
    catalog = classes / "catalog.json"
    if not catalog.exists():
        for stale in BUILD.glob("classes-*"):
            shutil.rmtree(stale, ignore_errors=True)
        tmp = BUILD / f"tmp-classes-{key}"
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir(parents=True)
        args = tmp / "sources.txt"
        args.write_text("\n".join(str(f) for f in _sources()) + "\n")
        print(f"[perfbench] compiling program + harness ({key})", file=log, flush=True)
        r = subprocess.run(
            [java(), "-Xss8m", "-Xmx1500m", "-XX:-UsePerfData", "-cp", spark_jars(),
             "scala.tools.nsc.Main", "-nowarn", "-classpath", spark_jars(),
             "-d", str(tmp), f"@{args}"],
            stdout=log, stderr=log)
        if r.returncode != 0:
            raise BuildError(f"scalac failed with exit code {r.returncode}")
        args.unlink()
        r = subprocess.run(
            [java(), *jvm_flags(), "-cp", classpath(tmp), "perfbench.PerfBench",
             "catalog", str(tmp / "catalog.json")], stdout=log, stderr=log)
        if r.returncode != 0:
            raise BuildError("catalog dump failed")
        tmp.rename(classes)
    return classes, json.loads(catalog.read_text())


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
