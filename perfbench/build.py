"""Build file of the benchmark: compiles the program (src/main/scala) and the
benchmark's JVM runner (perfbench/src) in one scalac pass.

The Scala compiler and Spark come from the Spark distribution the program
builds against ($SPARK_HOME/jars, as in build.sbt's `unmanagedBase`), so
the build needs no dependency resolution. Classes go to
`.bench_build/classes-<hash of the sources>` in the checkout, and a build
is reused while the sources are unchanged.

  python3 perfbench/build.py     # prints the classes directory
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars() -> str:
    """The jars of the Spark distribution: $SPARK_HOME/jars, else the first
    spark-submit on PATH whose distribution carries the Scala compiler."""
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else []
    homes += [os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
              if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if glob.glob(os.path.join(home, "jars", "scala-compiler-2.13.*.jar")):
            return os.path.join(home, "jars")
    raise SystemExit("no Spark distribution with Scala 2.13 jars: set SPARK_HOME")


def sources(root: str) -> list:
    main = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(main):
        raise SystemExit(f"no program sources at {main}: run from a checkout "
                         "of the repository")
    return sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True)) + \
        sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))


def build(root: str, build_dir: str) -> str:
    srcs = sources(root)
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(build_dir, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".done")):
        return out
    os.makedirs(build_dir, exist_ok=True)
    for old in glob.glob(os.path.join(build_dir, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    os.makedirs(out)
    jars = spark_jars()
    compiler = os.pathsep.join(
        glob.glob(os.path.join(jars, f"scala-{m}-2.13.*.jar"))[0]
        for m in ("compiler", "library", "reflect"))
    argfile = os.path.join(build_dir, "scalac-args.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", os.path.join(jars, "*"), "@" + argfile]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                         text=True, timeout=850)
    os.remove(argfile)
    if res.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        sys.stderr.write(res.stdout[-4000:])
        raise SystemExit(f"scalac failed with code {res.returncode}")
    open(os.path.join(out, ".done"), "w").close()
    return out


if __name__ == "__main__":
    print(build(os.getcwd(), os.path.join(os.getcwd(), ".bench_build")))
