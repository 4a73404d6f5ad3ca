"""Builds the program and the benchmark harness from source.

The program is `src/main/scala` of the checkout; the harness is
`perfbench/scala`. Both are compiled with the Scala compiler that ships
in the Spark distribution's jars (`$SPARK_HOME/jars`, or the
distribution whose `spark-submit` is on the PATH), into
`.bench_build/classes`. A stamp over every source file's path and
content skips the build when nothing changed.

    python3 perfbench/build.py      # build, print the classpath
"""
import glob
import hashlib
import os
import subprocess
import sys

BUILD = ".bench_build"


def spark_jars():
    """Jars of `$SPARK_HOME`, else of the first Spark distribution on the
    PATH whose jars include the Scala compiler."""
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
        if any("scala-compiler" in j for j in jars):
            return jars
    raise SystemExit("no Spark distribution with a Scala compiler: set SPARK_HOME")


def sources(root):
    return sorted(glob.glob(os.path.join(root, "**", "*.scala"), recursive=True))


def _stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _scalac(srcs, out, classpath, log):
    os.makedirs(out, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", classpath, "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", classpath] + srcs
    with open(log, "w") as fh:
        if subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT).returncode:
            raise SystemExit(f"compile failed, see {log}")


def ensure(repo="."):
    """Compile what is stale; returns the run-time classpath."""
    prog_src = sources(os.path.join(repo, "src", "main", "scala"))
    bench_src = sources(os.path.join(repo, "perfbench", "scala"))
    if not prog_src:
        raise SystemExit("no program sources under src/main/scala")
    jars = spark_jars()
    build = os.path.join(repo, BUILD)
    prog = os.path.join(build, "classes", "program")
    bench = os.path.join(build, "classes", "perfbench")
    stamp_path = os.path.join(build, "classes", "stamp")
    stamp = _stamp(prog_src + bench_src)
    old = open(stamp_path).read() if os.path.exists(stamp_path) else ""
    if old != stamp:
        subprocess.run(["rm", "-rf", prog, bench], check=True)
        base = ":".join(jars)
        _scalac(prog_src, prog, base, os.path.join(build, "compile-program.log"))
        _scalac(bench_src, bench, prog + ":" + base, os.path.join(build, "compile-perfbench.log"))
        with open(stamp_path, "w") as fh:
            fh.write(stamp)
    return ":".join([bench, prog] + jars)


if __name__ == "__main__":
    print(ensure(sys.argv[1] if len(sys.argv) > 1 else "."))
