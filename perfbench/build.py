"""Build file of the benchmark: compiles graft's main sources together with
the harness under perfbench/src into one class directory.

The Spark distribution the project builds against supplies both the Scala
compiler and the runtime classpath. Its jar directory is $SPARK_HOME/jars,
else the `unmanagedBase` line of the project's build.sbt. Output goes to
$CARGO_TARGET_DIR (default .bench_build) under perfbench/, keyed by a hash
of every source, so an unchanged tree is built once.

    python3 perfbench/build.py          # prints the class directory
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def jar_dir(root):
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(root, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise SystemExit("perfbench: no Spark jar directory (set SPARK_HOME)")


def sources(root):
    out = []
    for base in (os.path.join(root, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files]
    return sorted(out)


def build_dir(root):
    return os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")


def build(root):
    """Compile if needed; return (class directory, jar directory)."""
    jars = jar_dir(root)
    srcs = sources(root)
    if not any(s.endswith(".scala") and "/src/main/" in s for s in srcs):
        raise SystemExit("perfbench: no main sources under src/main")
    h = hashlib.sha256(jars.encode())
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    out = os.path.join(build_dir(root), "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".done")):
        return out, jars
    tmp = out + ".tmp%d" % os.getpid()
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    scala = [s for s in srcs if s.endswith(".scala")]
    subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                    "-classpath", cp, "-d", tmp, "-nowarn"] + scala, check=True,
                   stdout=sys.stderr)
    open(os.path.join(tmp, ".done"), "w").close()
    os.replace(tmp, out)
    return out, jars


if __name__ == "__main__":
    print(build(os.getcwd())[0])
