"""Builds the engine and the benchmark's JVM driver from source.

The benchmark compiles the repository's main sources (``src/main/scala``)
together with its own Scala files (``perfbench/scala``) with the Scala
compiler that ships among the engine's runtime jars. The jar directory is
the one the repository's ``build.sbt`` declares as ``unmanagedBase``
(falling back to ``$SPARK_HOME/jars``). Classes land under
``.bench_build/perfbench``; a stamp over every source file makes repeated
runs skip the compile.

    python3 perfbench/build.py     # build (or confirm the build is current)
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
BUILD_DIR = os.path.join(ROOT, ".bench_build", "perfbench")


class BuildError(RuntimeError):
    pass


def jar_dir(root=ROOT):
    sbt = os.path.join(root, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt, encoding="utf-8") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    raise BuildError("no engine jar directory: build.sbt declares no "
                     "unmanagedBase and SPARK_HOME is unset")


def sources(root=ROOT):
    main = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(main):
        raise BuildError("no engine sources at %s" % main)
    files = sorted(glob.glob(os.path.join(main, "**", "*.scala"),
                             recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "scala", "**", "*.scala"),
                              recursive=True))
    return files


def stamp(files, jars):
    h = hashlib.sha256(jars.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath(classes, root=ROOT):
    """Runtime classpath: compiled classes, the engine's resources, jars."""
    return os.pathsep.join([classes,
                            os.path.join(root, "src", "main", "resources"),
                            os.path.join(jar_dir(root), "*")])


def ensure_built(log=sys.stderr):
    """Returns the classes directory, compiling first when stale."""
    jars = jar_dir()
    files = sources()
    want = stamp(files, jars)
    classes = os.path.join(BUILD_DIR, "classes")
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    if os.path.exists(stamp_file) and os.path.isdir(classes):
        with open(stamp_file) as f:
            if f.read().strip() == want:
                return classes
    os.makedirs(BUILD_DIR, exist_ok=True)
    tmp = "%s.tmp%d" % (classes, os.getpid())
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD_DIR, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(files) + "\n")
    print("perfbench: compiling %d Scala files" % len(files), file=log)
    cp = os.path.join(jars, "*")
    proc = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", cp,
         "scala.tools.nsc.Main",
         "-classpath", cp, "-d", tmp, "-nowarn", "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(want + "\n")
    return classes


if __name__ == "__main__":
    try:
        print(ensure_built())
    except BuildError as e:
        print("perfbench: build failed: %s" % e, file=sys.stderr)
        sys.exit(2)
