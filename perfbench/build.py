"""Build file of the benchmark: compiles the program (src/main/scala plus
src/main/resources) and the benchmark's own JVM sources (perfbench/scala)
with the Scala compiler that ships in the Spark distribution, into the
build directory. A stamp of every input's content skips the compile when
nothing changed.

    python3 perfbench/build.py      # prints the classpath it built
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, "perfbench")
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
SCALA = "2.13.17"


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def _sources(base, pattern):
    return sorted(glob.glob(os.path.join(base, pattern), recursive=True))


def _stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update("\n".join(sorted(os.listdir(SPARK_JARS))).encode())
    return h.hexdigest()


def _scalac(srcs, classpath, dest, log):
    compiler = os.pathsep.join(os.path.join(SPARK_JARS, f"scala-{p}-{SCALA}.jar")
                               for p in ("compiler", "library", "reflect"))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", compiler,
           "scala.tools.nsc.Main", "-nowarn", "-classpath", classpath,
           "-d", dest] + srcs
    r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        raise RuntimeError(f"scalac failed ({r.returncode}); see {log.name}")


def build():
    """Compile if needed; return the runtime classpath."""
    prog = _sources(os.path.join(ROOT, "src", "main", "scala"), "**/*.scala")
    res_dir = os.path.join(ROOT, "src", "main", "resources")
    res = [f for f in _sources(res_dir, "**/*") if os.path.isfile(f)]
    bench = _sources(os.path.join(BENCH, "scala"), "**/*.scala")
    if not prog:
        raise RuntimeError("no program sources under src/main/scala")
    if not bench:
        raise RuntimeError("no benchmark sources under perfbench/scala")
    if not os.path.isdir(SPARK_JARS):
        raise RuntimeError(f"Spark jars not found at {SPARK_JARS}")
    out = os.path.join(build_dir(), "classes")
    stamp = _stamp(prog + res + bench)
    stamp_file = os.path.join(out, "STAMP")
    spark_cp = os.path.join(SPARK_JARS, "*")
    cp = os.pathsep.join([os.path.join(out, "program"), os.path.join(out, "bench"),
                          spark_cp])
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return cp
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(os.path.join(out, "program"))
    os.makedirs(os.path.join(out, "bench"))
    with open(os.path.join(build_dir(), "build.log"), "w") as log:
        _scalac(prog, spark_cp, os.path.join(out, "program"), log)
        for f in res:
            dst = os.path.join(out, "program", os.path.relpath(f, res_dir))
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copyfile(f, dst)
        _scalac(bench, os.pathsep.join([os.path.join(out, "program"), spark_cp]),
                os.path.join(out, "bench"), log)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


if __name__ == "__main__":
    try:
        print(build())
    except RuntimeError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
