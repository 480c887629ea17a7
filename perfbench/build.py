"""Build file of the benchmark.

Compiles the repository's main Scala sources (src/main/scala) and then the
benchmark's own Scala (perfbench/scala) against them, with the Scala
compiler jar that ships among the Spark jars. No sbt is involved, so the
repository's build files stay untouched. Output goes to .bench_build/ in
the checkout; a hash of the sources lets later runs skip the compile.

    python3 perfbench/build.py        # from the root of a checkout
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD = ".bench_build"
BENCH_SRC = os.path.join("perfbench", "scala")
MAIN_SRC = os.path.join("src", "main", "scala")


def spark_jars():
    """The Spark jar directory: the one build.sbt declares as unmanagedBase,
    else $SPARK_HOME/jars."""
    if os.path.exists("build.sbt"):
        with open("build.sbt") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sys.exit("perfbench: no Spark jar directory (build.sbt unmanagedBase or SPARK_HOME)")


def jar_list(jars):
    return sorted(glob.glob(os.path.join(jars, "*.jar")))


def sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def digest(files, extra):
    h = hashlib.sha256(extra.encode())
    for p in files:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def scalac(jars, classpath, files, out):
    """Compiles `files` into a fresh `out` directory."""
    compiler = [j for j in jar_list(jars)
                if re.search(r"scala-(compiler|library|reflect)-[0-9.]+\.jar$", j)]
    if len(compiler) != 3:
        sys.exit("perfbench: scala compiler jars not found in " + jars)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-cp", os.pathsep.join(classpath),
           "-d", tmp] + files
    if subprocess.run(cmd).returncode != 0:
        sys.exit("perfbench: compile failed")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)


def build():
    """Returns the run classpath, compiling whatever changed."""
    main_files = sources(MAIN_SRC)
    bench_files = sources(BENCH_SRC)
    if not main_files or not bench_files:
        sys.exit("perfbench: run from the root of a checkout that has "
                 + MAIN_SRC + " and " + BENCH_SRC)
    jars = spark_jars()
    deps = jar_list(jars)
    os.makedirs(BUILD, exist_ok=True)
    main_out = os.path.join(BUILD, "classes")
    bench_out = os.path.join(BUILD, "bench-classes")
    stamp_path = os.path.join(BUILD, "stamp")
    main_stamp = digest(main_files, jars)
    bench_stamp = digest(bench_files, main_stamp)
    old = open(stamp_path).read().split() if os.path.exists(stamp_path) else []
    if old[:1] != [main_stamp] or not os.path.isdir(main_out):
        scalac(jars, deps, main_files, main_out)
        old = []
    if old[1:2] != [bench_stamp] or not os.path.isdir(bench_out):
        scalac(jars, [main_out] + deps, bench_files, bench_out)
    with open(stamp_path, "w") as f:
        f.write(main_stamp + " " + bench_stamp + "\n")
    return [bench_out, main_out, os.path.join(jars, "*")]


if __name__ == "__main__":
    print(os.pathsep.join(build()))
