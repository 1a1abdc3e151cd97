"""Build file of the benchmark package.

Compiles graft's library sources (src/main/scala) and the benchmark's
runner (perfbench/src) with the Scala compiler that ships in Spark's jar
directory, so a checkout builds with no network and no sbt:

    python3 perfbench/build.py            # prints the run classpath

Outputs go to $CARGO_TARGET_DIR, or .bench_build at the checkout root.
A build is skipped when a stamp of every source file's content matches
the last one.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars", "*")
UNITS = [("graft", os.path.join(ROOT, "src", "main", "scala")),
         ("bench", os.path.join(ROOT, "perfbench", "src"))]


def out_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def sources(src):
    files = sorted(glob.glob(os.path.join(src, "**", "*.scala"), recursive=True) +
                   glob.glob(os.path.join(src, "**", "*.java"), recursive=True))
    if not files:
        raise SystemExit(f"build: no sources under {os.path.relpath(src, ROOT)}")
    return files


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def compile_unit(name, src, classpath):
    files = sources(src)
    dest = os.path.join(out_dir(), name)
    key = stamp(files) + "|" + ":".join(classpath)
    stamp_file = dest + ".stamp"
    if os.path.isdir(dest) and os.path.exists(stamp_file) and open(stamp_file).read() == key:
        return dest
    tmp = dest + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = ":".join([SPARK_JARS] + classpath)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", SPARK_JARS, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-cp", cp] + files
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        raise SystemExit(f"build: compiling {name} failed (exit {r.returncode})")
    shutil.rmtree(dest, ignore_errors=True)
    os.rename(tmp, dest)
    with open(stamp_file, "w") as f:
        f.write(key)
    return dest


def build():
    """Compile what changed; return the classpath to run the benchmark."""
    os.makedirs(out_dir(), exist_ok=True)
    built = []
    for name, src in UNITS:
        built.append(compile_unit(name, src, list(built)))
    return ":".join(list(reversed(built)) + [SPARK_JARS])


if __name__ == "__main__":
    print(build())
