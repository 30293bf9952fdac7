"""Build file of the benchmark.

Compiles the program's sources (src/main/scala) together with the
benchmark's own (perfbench/src) using the Scala compiler that ships in
Spark's jars directory ($SPARK_HOME/jars, else the `unmanagedBase` that
the program's build.sbt names), into .bench_build/perfbench/classes. A digest of every source file is kept next
to the classes, so an unchanged tree is not compiled again.

    python3 perfbench/build.py
"""
import hashlib
import os
import pathlib
import re
import shutil
import subprocess
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"
OUT = ROOT / ".bench_build" / "perfbench"
CLASSES = OUT / "classes"
STAMP = OUT / "classes.sha256"

# Spark on JDK 17 needs these when a session is created outside
# spark-submit (the same list as the program's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def spark_jars():
    if os.environ.get("SPARK_HOME"):
        jars = pathlib.Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        sbt = ROOT / "build.sbt"
        m = re.search(r'unmanagedBase := file\("([^"]+)"\)',
                      sbt.read_text() if sbt.exists() else "")
        if not m:
            raise BuildError("SPARK_HOME is not set and build.sbt names no jars")
        jars = pathlib.Path(m.group(1))
    if not any(jars.glob("spark-sql_2.13-*.jar")):
        raise BuildError(f"no Spark jars in {jars}; set SPARK_HOME")
    return jars


def sources():
    program = ROOT / "src" / "main" / "scala"
    if not program.is_dir():
        raise BuildError(f"program sources not found at {program}")
    files = sorted(program.rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))
    if not files:
        raise BuildError("no Scala sources to compile")
    return files


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Compiles if the sources changed; returns the classes directory."""
    files = sources()
    jars = spark_jars()
    want = digest(files)
    if CLASSES.is_dir() and STAMP.exists() and STAMP.read_text() == want:
        return CLASSES
    tmp = OUT / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cp = f"{jars}/*"
    argfile = OUT / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    print(f"[perfbench] compiling {len(files)} Scala files", file=sys.stderr)
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", f"-Djava.io.tmpdir={OUT}", "-cp", cp,
         "scala.tools.nsc.Main", "-nowarn", "-d", str(tmp), "-classpath", cp,
         f"@{argfile}"],
        stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise BuildError("compilation failed")
    shutil.rmtree(CLASSES, ignore_errors=True)
    tmp.rename(CLASSES)
    STAMP.write_text(want)
    return CLASSES


def java_command(main_args, work, heap="3g"):
    """The benchmark JVM's command line; all its temporary files go to `work`.
    The heap has a fixed size, so that heap resizing does not vary between
    runs."""
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:+UseG1GC",
             f"-Djava.io.tmpdir={work}",
             f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}",
             *opens, "-cp", f"{CLASSES}:{spark_jars()}/*", "perfbench.Main"]
            + [str(a) for a in main_args])


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
