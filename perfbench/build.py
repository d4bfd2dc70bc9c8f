"""Build file of the benchmark package.

Compiles the program's main sources, unchanged, together with the
benchmark's own Scala sources under `perfbench/src`, using the Scala
compiler that ships with Spark: `$SPARK_HOME/jars`, or else the jar
directory the program's own build.sbt names (`unmanagedBase`).
Classes go to `<out>/classes`; a stamp of the source contents skips the
compile when nothing changed.

Usage: python3 perfbench/build.py [out_dir]   (default .bench_build/perfbench)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    if "SPARK_HOME" in os.environ:
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("build: build.sbt names no unmanagedBase jar directory")
    return m.group(1)


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                            recursive=True))
    own = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    if not main:
        raise SystemExit("build: no program sources under src/main/scala")
    return main + own


def classpath(out_dir):
    return os.path.join(out_dir, "classes") + os.pathsep + \
        os.path.join(spark_jars(), "*")


def build(out_dir):
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(out_dir, "stamp")
    classes = os.path.join(out_dir, "classes")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return classpath(out_dir)
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    args_file = os.path.join(out_dir, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs))
    jars = os.path.join(spark_jars(), "*")
    cmd = ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", jars, "@" + args_file]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("build: compile failed")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return classpath(out_dir)


if __name__ == "__main__":
    print(build(os.path.abspath(sys.argv[1] if len(sys.argv) > 1
                                else os.path.join(ROOT, ".bench_build/perfbench"))))
