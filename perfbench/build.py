"""Build file of the benchmark: compiles the engine's sources together with
the benchmark harness into one class directory.

The output lives under `.bench_build/perfbench/` in the checkout and is
keyed by a hash of every source file, so an unchanged tree is built once.
Compilation uses the Scala compiler that ships with Spark (`$SPARK_HOME/jars`,
or the installation `spark-submit` on PATH belongs to).

Run `python3 perfbench/build.py` from the repository root to build only.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(ROOT, ".bench_build", "perfbench")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit("perfbench: no Spark installation with a Scala compiler "
                         "found (set SPARK_HOME)")
    return jars


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                              recursive=True))
    if not engine:
        raise SystemExit("perfbench: engine sources (src/main/scala) not found")
    return engine + sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))


def build():
    """Returns the class directory for the current sources, compiling it if
    it does not exist yet."""
    files = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    out = os.path.join(BUILD_DIR, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".complete")):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit("perfbench: compilation failed")
    os.remove(argfile)
    open(os.path.join(tmp, ".complete"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    print(build())
