"""Build file of the benchmark package.

Compiles the program (`src/main/scala`) and the benchmark harness
(`perfbench/scala`) with the Scala compiler that ships with the Spark
distribution, so no build tool or network is needed.  Output goes under
the build directory and is reused while no source changes.

Usage: python3 perfbench/build.py [build_dir]
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars():
    """`$SPARK_HOME/jars`, or the distribution of the `spark-submit` on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit("perfbench: no Spark distribution with a Scala compiler found "
                         "(set SPARK_HOME)")
    return jars


def sources(root):
    prog = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    if not prog:
        raise SystemExit(f"perfbench: no program sources under {root}/src/main/scala")
    return prog, bench


def key(files, salt):
    """sha256 of the salt and of every file's path and bytes."""
    h = hashlib.sha256(salt.encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _scalac(jars, out, cp, files):
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    java_tmp = os.path.join(os.path.dirname(os.path.dirname(out)), "tmp")
    os.makedirs(java_tmp, exist_ok=True)
    cmd = ["java", "-XX:-UsePerfData", f"-Djava.io.tmpdir={java_tmp}", "-Xss8m", "-Xmx2g",
           "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-cp", cp] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=800)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"perfbench: compile failed ({out})")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)


def build(root, build_dir):
    """Returns the harness classpath, compiling first when a source changed."""
    jars = spark_jars()
    prog, bench = sources(root)
    prog_out = os.path.join(build_dir, "classes", "program")
    bench_out = os.path.join(build_dir, "classes", "bench")
    stamp = os.path.join(build_dir, "classes", "STAMP")
    stamp_key = key(prog + bench, jars)
    current = open(stamp).read() if os.path.exists(stamp) else ""
    if current != stamp_key:
        t0 = time.time()
        os.makedirs(os.path.dirname(stamp), exist_ok=True)
        _scalac(jars, prog_out, os.path.join(jars, "*"), prog)
        _scalac(jars, bench_out, prog_out + os.pathsep + os.path.join(jars, "*"), bench)
        with open(stamp, "w") as fh:
            fh.write(stamp_key)
        print(f"perfbench: built program and harness in {time.time() - t0:.1f} s", flush=True)
    return os.pathsep.join([bench_out, prog_out, os.path.join(root, "src", "main", "resources"),
                            os.path.join(jars, "*")])


if __name__ == "__main__":
    root = os.getcwd()
    build(root, os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else ".bench_build"))
