"""Builds graft and the benchmark's JVM harness from source with the Scala
compiler that ships in Spark's jars: no build tool, no network.

Usage: python3 perfbench/build.py [out_dir]  (prints the classes directory)
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
SOURCES = ("src/main/scala", os.path.join(os.path.relpath(HERE), "scala"))


def spark_jars():
    """The jars directory of the Spark installation ($SPARK_HOME, else the
    one `spark-submit` on PATH belongs to)."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise SystemExit("no Spark installation found (set SPARK_HOME)")
    return jars


def sources():
    files = []
    for root in SOURCES:
        if not os.path.isdir(root):
            raise SystemExit("missing source tree %s (run from the repository root)" % root)
        for d, _, names in os.walk(root):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build(out_root):
    """Compile once per source state; return the classes directory."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    classes = os.path.join(out_root, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(classes, ".built")):
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cp = os.path.join(spark_jars(), "*")
    args_file = os.path.join(out_root, "scalac-args.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(files))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-d", classes, "-classpath", cp, "@" + args_file]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("compilation failed")
    open(os.path.join(classes, ".built"), "w").close()
    return classes


if __name__ == "__main__":
    out = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    os.makedirs(out, exist_ok=True)
    print(build(out))
