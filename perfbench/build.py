"""Build file of the benchmark: compiles graft's `src/main/scala` together
with the harness in `perfbench/harness` into `.bench_build/classes` with
the Scala compiler that ships in Spark's jar directory. A stamp of the
source hashes skips the compile when nothing changed.

    python3 perfbench/build.py          # build if stale, print the class dir
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"
CLASSES = BUILD / "classes"


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the `unmanagedBase`
    the project's build.sbt compiles against."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(Path(os.environ["SPARK_HOME"]) / "jars")
    sbt = ROOT / "build.sbt"
    if sbt.exists():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m:
            candidates.append(Path(m.group(1)))
    for jars in candidates:
        if any(jars.glob("scala-compiler-*.jar")):
            return jars
    raise SystemExit(f"no Spark jars with a Scala compiler in {candidates}: set SPARK_HOME")


def sources():
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        raise SystemExit(f"{main} is missing: run from a checkout of the repository")
    files = sorted(main.rglob("*.scala")) + sorted((ROOT / "perfbench" / "harness").glob("*.scala"))
    return files


def build():
    files = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for f in files + [Path(__file__)]:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp = h.hexdigest()
    stamp_file = CLASSES / "BUILD_STAMP"
    if stamp_file.exists() and stamp_file.read_text() == stamp:
        return CLASSES
    BUILD.mkdir(exist_ok=True)
    tmp = Path(tempfile.mkdtemp(prefix="classes-", dir=BUILD))
    cp = f"{jars}/*"
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-d", str(tmp), "-classpath", cp] + [str(f) for f in files]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit(f"compile failed ({proc.returncode})")
    (tmp / "BUILD_STAMP").write_text(stamp)
    shutil.rmtree(CLASSES, ignore_errors=True)
    tmp.rename(CLASSES)
    return CLASSES


if __name__ == "__main__":
    print(build())
