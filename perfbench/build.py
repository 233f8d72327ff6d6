"""Build file of the benchmark: compiles graft's main sources together
with the harness under perfbench/harness into one class directory.

It calls the Scala compiler that ships with Spark's jars directly (no
sbt, no dependency resolution), so a build needs only a JDK and the
Spark distribution. The output lands in $CARGO_TARGET_DIR (default
`.bench_build`) under a name derived from a hash of every source file,
so an unchanged tree reuses its classes and a changed one rebuilds.

    python3 perfbench/build.py        # prints the class directory
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCALA = "2.13.17"


def spark_jars():
    """The jars of the Spark distribution at $SPARK_HOME, or of the one
    whose spark-submit is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not os.path.isfile(os.path.join(jars, f"scala-compiler-{SCALA}.jar")):
        raise SystemExit(f"no Spark distribution with Scala {SCALA} jars at {jars}")
    return jars


def jvm_local(tmp):
    """JVM flags that keep its scratch files (native libraries Spark
    unpacks, perf data) inside `tmp` instead of the system temp dir."""
    os.makedirs(tmp, exist_ok=True)
    return ["-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        raise SystemExit(f"graft sources not found under {main}")
    files = glob.glob(os.path.join(main, "**", "*.scala"), recursive=True)
    files += glob.glob(os.path.join(HERE, "harness", "**", "*.scala"), recursive=True)
    return sorted(files)


def build():
    """Compile if needed; return the class directory."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256(SCALA.encode())
    for f in srcs + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(build_dir(), "classes-" + h.hexdigest()[:16])
    if os.path.isfile(os.path.join(out, ".ok")):
        return out
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(tmp, ".sources")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs))
    compiler = os.pathsep.join(
        os.path.join(jars, f"scala-{p}-{SCALA}.jar")
        for p in ("compiler", "library", "reflect"))
    cmd = ["java", "-Xss8m", "-Xmx2g"] + jvm_local(os.path.join(tmp, ".tmp")) + [
           "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-encoding", "UTF-8",
           "-cp", os.path.join(jars, "*"), "-d", tmp, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        sys.stderr.write(r.stdout.decode(errors="replace")[-8000:])
        raise SystemExit("compile failed")
    os.remove(argfile)
    shutil.rmtree(os.path.join(tmp, ".tmp"))
    open(os.path.join(tmp, ".ok"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    print(build())
