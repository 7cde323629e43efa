"""Build file of the benchmark package: compiles the engine
(`src/main/scala`) and the benchmark runner (`perfbench/src`) with the
Scala compiler of the Spark distribution (see `spark_jars`), the same Scala
version `build.sbt` pins, into `<out>/classes`.

A stamp over every source file's path and content makes the build run
only when a source changed. Run it alone with
`python3 perfbench/build.py` from the repository root.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars():
    """Classpath entry of the Spark distribution's jars: $SPARK_HOME, or
    the first distribution with a `spark-submit` on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and glob.glob(os.path.join(home, "jars", "scala-compiler-*.jar")):
            return os.path.join(home, "jars", "*")
    raise RuntimeError("set SPARK_HOME to a Spark distribution with its jars/")


def sources(root):
    engine = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"),
                              recursive=True))
    if not engine:
        raise RuntimeError(f"no engine sources under {root}/src/main/scala")
    return engine + sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))


def build(root, out):
    """Compile when a source changed; return the classes directory."""
    jars = spark_jars()
    srcs = sources(root)
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(classes, "BUILD_STAMP")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(out, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-cp", jars, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise RuntimeError("scalac failed:\n" + r.stdout[-4000:])
    with open(os.path.join(tmp, "BUILD_STAMP"), "w") as f:
        f.write(stamp)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    return classes


if __name__ == "__main__":
    root = os.path.dirname(HERE)
    try:
        print(build(root, os.path.join(root, ".bench_build")))
    except RuntimeError as e:
        sys.exit(str(e))
