"""Builds the perfbench harness: graft's sources under `src/main/scala`
plus `perfbench/harness`, compiled together by the Scala compiler that
ships in Spark's jar directory ($SPARK_HOME/jars). No build tool and no
dependency resolution: the classpath is exactly Spark's jars.

    python3 perfbench/build.py [--out DIR]

Output goes to `.bench_build/classes` under the current directory; a
build whose sources and compiler are unchanged is skipped.
"""
import argparse
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit("perfbench: no Spark jars with a Scala compiler; set SPARK_HOME")
    return jars


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    if not main:
        raise SystemExit(f"perfbench: no graft sources under {root}/src/main/scala")
    return main + sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))


def build(root, out):
    jars = spark_jars()
    srcs = sources(root)
    h = hashlib.sha256()
    for p in srcs + sorted(glob.glob(os.path.join(jars, "scala-*.jar"))):
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(out, ".stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", out] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"perfbench: compile failed ({r.returncode})")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--out", default=os.path.join(".bench_build", "classes"))
    a = ap.parse_args()
    print(build(os.getcwd(), os.path.abspath(a.out)))


if __name__ == "__main__":
    main()
