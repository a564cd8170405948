"""Build the engine and the benchmark harness from source.

The engine (``src/main/scala``) and the harness (``perfbench/scala``)
are compiled together with the Scala compiler that ships in Spark's jar
directory, into ``perfbench/.build/classes`` and packed into
``perfbench/.build/engine.jar`` (a jar, so that the JVM's class-data
sharing archive can cover its classes).  The build is skipped when a
hash of every source file matches the last build.

    python3 perfbench/build.py          # build if stale, print the classpath
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, ".build")
SOURCES = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "scala")]
RESOURCES = os.path.join(ROOT, "src", "main", "resources")


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, or next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise BuildError("no Spark jar directory found (set SPARK_HOME)")
    return jars


def _files(roots, suffix):
    out = []
    for r in roots:
        for d, _, fs in os.walk(r):
            out += [os.path.join(d, f) for f in fs if f.endswith(suffix)]
    return sorted(out)


def source_hash():
    main = SOURCES[0]
    if not os.path.isdir(main):
        raise BuildError(f"engine sources not found at {main}")
    h = hashlib.sha256()
    for f in _files(SOURCES + [RESOURCES], ""):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    return os.path.join(OUT, "engine.jar") + os.pathsep + os.path.join(spark_jars(), "*")


def build(log=sys.stderr):
    """Compile when stale; returns the source hash of the build."""
    digest = source_hash()
    stamp = os.path.join(OUT, "stamp")
    jar = os.path.join(OUT, "engine.jar")
    if os.path.exists(stamp) and open(stamp).read() == digest and os.path.exists(jar):
        return digest
    classes = os.path.join(OUT, "classes")
    shutil.rmtree(OUT, ignore_errors=True)
    os.makedirs(classes)
    srcs = _files(SOURCES, ".scala")
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes, "@" + argfile]
    print(f"[build] compiling {len(srcs)} Scala files", file=log, flush=True)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    if os.path.isdir(RESOURCES):
        shutil.copytree(RESOURCES, classes, dirs_exist_ok=True)
    with zipfile.ZipFile(jar, "w") as z:
        for f in _files([classes], ""):
            z.write(f, os.path.relpath(f, classes))
    with open(stamp, "w") as f:
        f.write(digest)
    return digest


if __name__ == "__main__":
    try:
        build()
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
    print(classpath())
