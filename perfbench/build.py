#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (``src/main/scala``)
together with the benchmark harness (``perfbench/scala``) into
``.bench_build/classes`` with the Scala compiler that ships in Spark's
jar directory, against Spark's jars. Nothing is fetched.

    python3 perfbench/build.py        # from the checkout root

``ensure`` rebuilds only when a source file or the toolchain changed and
returns the runtime classpath.
"""
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
        if not submit:
            raise SystemExit("SPARK_HOME is unset and spark-submit is not on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not os.path.isdir(jars):
        raise SystemExit(f"no jars directory under {home}")
    return jars


def sources(root):
    prog = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(prog):
        raise SystemExit(f"program sources not found: {prog}")
    files = []
    for d in (prog, os.path.join(HERE, "scala")):
        for dirpath, _, names in os.walk(d):
            files += [os.path.join(dirpath, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def java_bin():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def ensure(root):
    jars = spark_jars()
    files = sources(root)
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update("|".join(sorted(os.listdir(jars))).encode())
    stamp = h.hexdigest()
    out = os.path.join(root, ".bench_build")
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "classes.stamp")
    classpath = f"{classes}:{jars}/*"
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classpath
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    compiler = [glob.glob(os.path.join(jars, f"scala-{p}-2.*.jar"))
                for p in ("compiler", "library", "reflect")]
    if not all(compiler):
        raise SystemExit(f"no Scala compiler jars in {jars}")
    argfile = os.path.join(out, "sources.args")
    with open(argfile, "w") as f:
        f.write("\n".join(files) + "\n")
    cmd = [java_bin(), "-Xss8m", "-Xmx3g", "-cp", ":".join(c[0] for c in compiler),
           "scala.tools.nsc.Main", "-nowarn", "-cp", f"{jars}/*", "-d", classes, f"@{argfile}"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-6000:])
        raise SystemExit(f"compile failed (exit {r.returncode})")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath


if __name__ == "__main__":
    print(ensure(os.getcwd()))
