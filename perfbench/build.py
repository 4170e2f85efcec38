"""Build file of the graft benchmark.

Compiles the program's sources (``src/main/scala``) together with the
benchmark's own (``perfbench/src``) into ``.bench_build/classes`` with the
Scala compiler that ships in the Spark installation (``$SPARK_HOME/jars``,
the same jars the program's sbt build compiles against), and packs them as
``.bench_build/perfbench.jar`` (the JVM's class archive, see run.py, takes
classes from jars only). A stamp over every source file skips the compile
when nothing changed.

    python3 perfbench/build.py        # from the repository root
"""
import hashlib
import os
import pathlib
import shutil
import subprocess
import sys
import zipfile

BENCH = pathlib.Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = ROOT / ".bench_build"
CLASSES = BUILD / "classes"
JAR = BUILD / "perfbench.jar"
ARCHIVE = BUILD / "perfbench.jsa"  # written by run.py, dropped by every build
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
BENCH_SRC = BENCH / "src"


def spark_jars():
    """$SPARK_HOME/jars, or the jars of the Spark whose spark-submit is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = pathlib.Path(shutil.which("spark-submit")).resolve().parent.parent
    jars = pathlib.Path(home or ".") / "jars"
    if not any(jars.glob("scala-compiler-*.jar")):
        raise SystemExit(f"no Scala compiler under {jars}: set SPARK_HOME to a Spark 4 installation")
    return jars


def sources():
    """Every source file of the build, or exit when the program is missing."""
    program = sorted(PROGRAM_SRC.rglob("*.scala"))
    if not program:
        raise SystemExit(f"the program's sources are missing: no .scala file under {PROGRAM_SRC}")
    return program + sorted(BENCH_SRC.rglob("*.scala"))


def stamp(files, jars):
    h = hashlib.sha256(str(sorted(p.name for p in jars.glob("*.jar"))).encode())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def pack(classes, jar):
    """Write every class file under `classes` into `jar`, in path order."""
    tmp = jar.with_suffix(".tmp")
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_STORED) as z:
        for f in sorted(classes.rglob("*.class")):
            z.write(f, f.relative_to(classes).as_posix())
    tmp.replace(jar)


def ensure_built():
    """Compile when the sources changed since the last build; return the jar."""
    files = sources()
    jars = spark_jars()
    want = stamp(files, jars)
    stamp_file = CLASSES / ".stamp"
    if stamp_file.exists() and stamp_file.read_text() == want and JAR.exists():
        return JAR
    ARCHIVE.unlink(missing_ok=True)
    tmp = BUILD / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = BUILD / "sources.txt"
    argfile.write_text("\n".join(f'"{f}"' for f in files) + "\n")
    cp = f"{jars}/*"
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-encoding", "UTF-8", "-classpath", cp, "-d", str(tmp), f"@{argfile}"]
    print(f"[perfbench] compiling {len(files)} sources", file=sys.stderr, flush=True)
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-20000:])
        raise SystemExit(f"compile failed (exit {res.returncode})")
    pack(tmp, JAR)
    (tmp / ".stamp").write_text(want)
    shutil.rmtree(CLASSES, ignore_errors=True)
    tmp.rename(CLASSES)
    return JAR


if __name__ == "__main__":
    print(ensure_built())
