"""Build file of the pipeline benchmark.

Compiles the engine (`src/main/scala`) together with the benchmark harness
(`perfbench/src/main/scala`) straight through the Scala compiler that ships
with Spark, into `.bench_build/classes` under the checkout root, and packs
the classes as `.bench_build/perfbench.jar`. A stamp of the source hashes
skips the compile when nothing changed.

    python3 perfbench/build.py          # build (or confirm the build is current)
"""

import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
JAR = os.path.join(BUILD, "perfbench.jar")
STAMP = os.path.join(BUILD, "classes.stamp")
# Class-data archives of the runs (run.py), one per workload; a rebuild
# drops them, since an archive holds the classes of the jars it was made from.
CDS = os.path.join(BUILD, "cds")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(HERE, "src", "main", "scala")]


def spark_jars():
    """The Spark jars under $SPARK_HOME/jars, or else the ones the
    project's sbt build compiles against (its `unmanagedBase`)."""
    jar_dir = None
    if os.environ.get("SPARK_HOME"):
        jar_dir = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        jar_dir = m and m.group(1)
    jars = sorted(glob.glob(os.path.join(jar_dir or "", "*.jar")))
    if not jars:
        raise RuntimeError("no Spark jars in %s (set SPARK_HOME)" % jar_dir)
    return jars


def sources():
    out = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise RuntimeError("missing source directory %s" % d)
        for dirpath, _, files in os.walk(d):
            out.extend(os.path.join(dirpath, f) for f in files
                       if f.endswith(".scala"))
    if not any(s.startswith(SOURCE_DIRS[0]) for s in out):
        raise RuntimeError("no engine sources under %s" % SOURCE_DIRS[0])
    return sorted(out)


def stamp_of(srcs, jars):
    h = hashlib.sha256()
    for p in srcs + jars:
        h.update(p.encode())
        if p.endswith(".scala"):
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def ensure(log=sys.stderr):
    """Compile if the stamp is stale; return the runtime classpath."""
    srcs, jars = sources(), spark_jars()
    stamp = stamp_of(srcs, jars)
    if os.path.exists(STAMP) and open(STAMP).read() == stamp and os.path.exists(JAR):
        return [JAR] + jars
    if os.path.exists(STAMP):
        os.remove(STAMP)
    for stale in (CLASSES, CDS):
        shutil.rmtree(stale, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.pathsep.join(jars)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-d", CLASSES, "-classpath", cp, "-nowarn", "@" + argfile]
    log.write("[perfbench] compiling %d sources\n" % len(srcs))
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise RuntimeError("scalac failed with exit code %d" % r.returncode)
    # a jar, because the JVM's class-data archive (run.py) takes no directories
    with zipfile.ZipFile(JAR + ".tmp", "w") as z:
        for dirpath, _, files in sorted(os.walk(CLASSES)):
            for f in sorted(files):
                path = os.path.join(dirpath, f)
                z.write(path, os.path.relpath(path, CLASSES))
    os.replace(JAR + ".tmp", JAR)
    with open(STAMP, "w") as f:
        f.write(stamp)
    return [JAR] + jars


if __name__ == "__main__":
    try:
        ensure()
    except RuntimeError as e:
        sys.stderr.write("[perfbench] build failed: %s\n" % e)
        sys.exit(2)
