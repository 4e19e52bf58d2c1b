"""Build file of the benchmark's JVM package.

Compiles the program's sources (src/main/scala) together with the
harness (perfbench/src) with the Scala compiler that ships among
Spark's jars, into <build dir>/classes. The build is skipped when the
sources hash to the stamp of the last build.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars():
    """$SPARK_HOME/jars, or the jars beside the spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    submit = shutil.which("spark-submit")
    if not home and submit:
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not glob.glob(os.path.join(home, "jars", "spark-core_*.jar")):
        raise SystemExit("perfbench: SPARK_HOME must name a Spark 4 distribution")
    return os.path.join(home, "jars")


def build_dir(root):
    base = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return os.path.join(root, base, "perfbench")


def sources(root):
    found = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"),
                             recursive=True))
    if not found:
        raise SystemExit("perfbench: no program sources under src/main/scala")
    return found + sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))


def build(root, timeout=840):
    """Compile if needed; return the classes directory."""
    srcs = sources(root)
    digest = hashlib.sha256()
    for path in srcs:
        digest.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    stamp = digest.hexdigest()
    out = os.path.join(build_dir(root), "classes")
    stamp_file = os.path.join(out, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return out, stamp
    jars = os.path.join(spark_jars(), "*")
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = os.path.join(build_dir(root), "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", jars, "@" + args_file]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True, timeout=timeout)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    with open(os.path.join(tmp, ".stamp"), "w") as f:
        f.write(stamp)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out, stamp


if __name__ == "__main__":
    print(build(os.getcwd())[0])
