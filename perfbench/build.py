"""Build file of the benchmark: compiles the program (src/main/scala) and the
benchmark's JVM harness (perfbench/src) into one class directory with the
Scala compiler that ships in the Spark distribution's jars.

The build is skipped when a stamp over every source file matches the last
build. Run it alone with `python3 perfbench/build.py` from the repo root.
"""
import hashlib
import importlib.util
import os
import shutil
import subprocess
import sys


class BuildError(Exception):
    pass


def spark_jars():
    """The jars of $SPARK_HOME, or else of the installed pyspark package."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        spec = importlib.util.find_spec("pyspark")
        home = os.path.dirname(spec.origin) if spec else ""
    jars = os.path.join(home, "jars")
    if not os.path.isdir(jars) or not any(n.startswith("scala-compiler") for n in os.listdir(jars)):
        raise BuildError(f"no Spark jars with a Scala compiler under {jars!r} (set SPARK_HOME)")
    return jars


def sources(root):
    found = []
    for top in ("src/main/scala", "perfbench/src"):
        for d, _, files in os.walk(os.path.join(root, top)):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    program = [f for f in found if f.startswith(os.path.join(root, "src", "main"))]
    if not program:
        raise BuildError("no program sources under src/main/scala: run from the repo root")
    return sorted(found)


def build(root, out_dir):
    """Returns the class directory, compiling first if any source changed."""
    jars = spark_jars()
    srcs = sources(root)
    h = hashlib.sha256(jars.encode())
    for f in srcs:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    classes = os.path.join(out_dir, "classes")
    stamp_file = os.path.join(out_dir, "stamp")
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                return classes
    shutil.rmtree(out_dir, ignore_errors=True)
    tmp = os.path.join(out_dir, "tmp")
    os.makedirs(classes)
    os.makedirs(tmp)
    argfile = os.path.join(out_dir, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs))
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", cp, "scala.tools.nsc.Main", "-nowarn", "-d", classes, "-classpath", cp,
           "@" + argfile]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                          timeout=800)
    if proc.returncode != 0:
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classes


if __name__ == "__main__":
    try:
        print(build(os.getcwd(), os.path.join(os.getcwd(), ".bench_build", "perfbench")))
    except BuildError as e:
        sys.exit(f"build failed: {e}")
