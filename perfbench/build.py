"""Build file of the benchmark.

Compiles the program's sources (src/main/scala) together with the
benchmark's own Scala sources (perfbench/src) into one jar, using the
Scala compiler that ships among the Spark jars the root build.sbt names
as `unmanagedBase`. Then runs the curation workload once on tiny inputs
to record a class-data-sharing archive of the Spark classes a run
loads, which cuts JVM start-up of every later run by seconds. A source
stamp skips both steps when nothing changed.

    python3 perfbench/build.py [<build dir>]
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent


def jar_dir():
    """The Spark jar directory: the root build's `unmanagedBase`, else
    $SPARK_HOME/jars."""
    sbt = ROOT / "build.sbt"
    if sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m and Path(m.group(1)).is_dir():
            return Path(m.group(1))
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    raise SystemExit("perfbench: no Spark jar directory (build.sbt unmanagedBase or SPARK_HOME)")


def sources():
    program = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not program:
        raise SystemExit("perfbench: no program sources under src/main/scala")
    return program + sorted((BENCH / "src").rglob("*.scala"))


# the module opens Spark needs on JDK 17 outside spark-submit (the root
# build.sbt passes the same list)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def jvm_options(work):
    """JVM flags of every benchmark JVM: heap, module opens, logging, and
    a scratch directory inside the build dir."""
    opts = ["-Xmx3g", "-Xss8m", "-XX:+UseG1GC", "-Djava.io.tmpdir=" + str(Path(work) / "tmp"),
            "-Dlog4j2.configurationFile=" + str(BENCH / "log4j2.properties"),
            "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        opts += ["--add-opens", p + "=ALL-UNNAMED"]
    return opts


def classpath(build_dir):
    return "{}:{}".format(Path(build_dir) / "bench.jar", jar_dir() / "*")


def archive(build_dir):
    """The class-data archive, when the build made one."""
    a = Path(build_dir) / "classes.jsa"
    return a if a.is_file() else None


def build(build_dir):
    """Compile and archive if needed; returns the jar."""
    build_dir = Path(build_dir)
    jar = build_dir / "bench.jar"
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    stamp = h.hexdigest()
    stamp_file = build_dir / "build.stamp"
    if stamp_file.is_file() and stamp_file.read_text() == stamp and jar.is_file():
        return jar
    stamp_file.unlink(missing_ok=True)
    classes = build_dir / "classes"
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    argfile = build_dir / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", str(jar_dir() / "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-d", str(classes), "@" + str(argfile)]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit("perfbench: compile failed")
    with zipfile.ZipFile(jar, "w") as z:
        for f in sorted(classes.rglob("*")):
            if f.is_file():
                z.write(f, f.relative_to(classes).as_posix())
    shutil.rmtree(classes, ignore_errors=True)

    jsa = build_dir / "classes.jsa"
    jsa.unlink(missing_ok=True)
    work = build_dir / "work" / "archive"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cmd = (["java", "-XX:ArchiveClassesAtExit=" + str(jsa)] + jvm_options(work) +
           ["-cp", classpath(build_dir), "perfbench.Main", "--workload", "curation_stream",
            "--seed", "1", "--seconds", "1", "--trace", "1", "--tiny",
            "--work", str(work), "--out", str(work / "record.json")])
    r = subprocess.run(cmd, cwd=str(work), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    shutil.rmtree(work, ignore_errors=True)
    if r.returncode != 0:
        # runs still work without the archive, only start slower
        jsa.unlink(missing_ok=True)
        sys.stderr.write("perfbench: no class-data archive:\n" + r.stdout[-3000:])
    stamp_file.write_text(stamp)
    return jar


if __name__ == "__main__":
    out = Path(sys.argv[1]) if len(sys.argv) > 1 else ROOT / ".bench_build" / "perfbench"
    out.mkdir(parents=True, exist_ok=True)
    print(build(out))
