"""Builds the program and the benchmark driver from source.

Compiles the repository's `src/main/scala` together with
`perfbench/scala` into one class directory with the Scala compiler that
ships in Spark's jar directory (the same jars the program runs on), so no
build tool or network is needed, and packs the classes into `program.jar`
(class-data sharing archives only classes loaded from jars). A stamp of
every source file's content skips the compile when nothing changed.

    python3 perfbench/build.py        # prints the jar
"""
import fcntl
import glob
import hashlib
import os
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    """Spark's jars: `$SPARK_HOME/jars`, else those of the Spark home the
    installed pyspark finds."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        try:
            from pyspark.find_spark_home import _find_spark_home
            home = _find_spark_home()
        except (ImportError, SystemExit):
            home = ""
    jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
    if not jars:
        raise SystemExit(f"no Spark jars under '{home}': set SPARK_HOME")
    return jars


def sources():
    program = os.path.join(ROOT, "src", "main", "scala")
    found = [p for d in (program, os.path.join(HERE, "scala"))
             for p in glob.glob(os.path.join(d, "**", "*.scala"),
                                recursive=True)]
    if not glob.glob(os.path.join(program, "**", "*.scala"), recursive=True):
        raise SystemExit(f"no program sources under {program}")
    return sorted(found)


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR",
                                             ".bench_build"))


def ensure():
    """Compile if the sources changed; return the program jar."""
    srcs = sources()
    digest = hashlib.sha256()
    for p in srcs + [os.path.abspath(__file__)]:
        digest.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            digest.update(f.read())
    stamp = digest.hexdigest()
    out = build_dir()
    classes = os.path.join(out, "classes-" + stamp[:16])
    os.makedirs(out, exist_ok=True)
    jar = os.path.join(classes, "program.jar")
    with open(os.path.join(out, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(os.path.join(classes, ".complete")):
            return jar
        os.makedirs(classes, exist_ok=True)
        cp = os.pathsep.join(spark_jars())
        argfile = os.path.join(out, "sources.txt")
        with open(argfile, "w") as f:
            f.write("\n".join(srcs))
        cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp,
               "scala.tools.nsc.Main",
               "-nowarn", "-d", classes, "-classpath", cp, "@" + argfile]
        r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
        if r.returncode != 0:
            raise SystemExit(f"compile failed ({r.returncode})")
        with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
            for d, _, files in os.walk(classes):
                for f in sorted(files):
                    if f.endswith(".class"):
                        p = os.path.join(d, f)
                        z.write(p, os.path.relpath(p, classes))
        open(os.path.join(classes, ".complete"), "w").close()
        return jar


if __name__ == "__main__":
    print(ensure())
