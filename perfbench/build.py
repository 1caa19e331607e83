"""Builds the program under test and the benchmark harness from source.

The program is compiled straight from `src/main/scala` with the Scala
compiler that ships among the Spark jars the repository's `build.sbt` names
(`unmanagedBase`), then the harness in `perfbench/harness` against it. A
stamp of every source file's content makes later calls a no-op until a
source changes. Nothing here is timed by the benchmark.

    python3 perfbench/build.py        # build into .bench_build/perfbench
"""

import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")


def spark_jars(root=ROOT):
    """The jar directory of the repository's own build definition, or
    $SPARK_JARS when set."""
    if os.environ.get("SPARK_JARS"):
        return os.environ["SPARK_JARS"]
    sbt = os.path.join(root, "build.sbt")
    with open(sbt) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("build.sbt names no unmanagedBase jar directory; set SPARK_JARS")
    return m.group(1)


def sources(root=ROOT):
    prog = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    harness = sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))
    return prog, harness


def stamp(files):
    h = hashlib.sha256()
    for p in files:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def scalac(jars, classpath, out, files):
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.pathsep.join([os.path.join(jars, "*")] + classpath)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", tmp] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit(f"compilation failed: {out}")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)


def ensure(root=ROOT):
    """Classpath entries (program classes, resources, harness classes)."""
    jars = spark_jars(root)
    prog, harness = sources(root)
    if not prog:
        raise SystemExit("no program sources under src/main/scala")
    classes = os.path.join(OUT, "program")
    hclasses = os.path.join(OUT, "harness")
    # the harness stamp covers the program too: it compiles against it
    for out, files, covered, cp in ((classes, prog, prog, []),
                                    (hclasses, harness, prog + harness, [classes])):
        want = stamp(covered)
        stamp_file = out + ".stamp"
        have = open(stamp_file).read() if os.path.exists(stamp_file) else ""
        if have != want or not os.path.isdir(out):
            os.makedirs(OUT, exist_ok=True)
            if os.path.exists(stamp_file):
                os.remove(stamp_file)
            scalac(jars, cp, out, files)
            with open(stamp_file, "w") as f:
                f.write(want)
    return jars, [classes, os.path.join(root, "src", "main", "resources"), hclasses]


if __name__ == "__main__":
    print(os.pathsep.join(ensure()[1]))
