"""Build file of the benchmark: compiles the library (src/main/scala) and the
benchmark runner (perfbench/src) with scalac into .bench_build/classes.

The compiler, Scala library and Spark come from the jar directory that the
repository's build.sbt names as `unmanagedBase`, so the benchmark builds the
same sources against the same jars as `sbt compile`. A stamp over every
source file skips the build when nothing changed.

Run alone with `python3 perfbench/build.py`.
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
STAMP = BUILD / "classes.stamp"
BUILD_TIMEOUT_S = 600


class BuildError(Exception):
    pass


def jar_dir() -> Path:
    sbt = ROOT / "build.sbt"
    if not sbt.is_file():
        raise BuildError(f"no build.sbt under {ROOT}: not a checkout of the program")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
    jars = Path(m.group(1)) if m else Path(os.environ.get("SPARK_HOME", "")) / "jars"
    if not any(jars.glob("scala-compiler-*.jar")):
        raise BuildError(f"no scala-compiler jar in {jars}")
    return jars


def sources() -> list:
    lib = ROOT / "src" / "main" / "scala"
    if not lib.is_dir():
        raise BuildError(f"no library sources under {lib}")
    files = sorted(lib.rglob("*.scala")) + sorted((ROOT / "perfbench" / "src").glob("*.scala"))
    return [str(f) for f in files]


def classpath() -> str:
    return f"{CLASSES}{os.pathsep}{jar_dir() / '*'}"


def build() -> Path:
    """Compile when the sources changed; return the classes directory."""
    srcs = sources()
    digest = hashlib.sha256()
    for f in srcs:
        digest.update(f.encode())
        digest.update(Path(f).read_bytes())
    stamp = digest.hexdigest()
    if STAMP.is_file() and STAMP.read_text() == stamp and CLASSES.is_dir():
        return CLASSES
    shutil.rmtree(CLASSES, ignore_errors=True)
    CLASSES.mkdir(parents=True)
    args_file = BUILD / "sources.txt"
    args_file.write_text("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", str(jar_dir() / "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-d", str(CLASSES), f"@{args_file}"]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True, timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0:
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    STAMP.write_text(stamp)
    return CLASSES


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(f"build failed: {e}")
