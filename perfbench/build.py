"""The benchmark package's build: compiles the repo's main sources together
with the benchmark's own Scala files into one class directory.

It uses the Scala compiler that ships with the Spark distribution the
repo builds against (the directory named by `unmanagedBase` in the
repo's build.sbt, or $SPARK_HOME/jars), so it needs no dependency
resolution and writes nothing outside the build directory. A build is
skipped when a stamp over every source file and jar name matches.

    python3 perfbench/build.py            # build into .bench_build/perfbench
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


class BuildError(Exception):
    pass


def spark_jars():
    """The jar directory the repo's own build compiles against."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise BuildError("no Spark jars: set SPARK_HOME or keep unmanagedBase in build.sbt")


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        raise BuildError("program sources not found: %s" % main)
    own = os.path.join(HERE, "scala")
    files = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(own, "**", "*.scala"), recursive=True))
    return files


def classpath():
    """Compiled classes first, then every Spark jar."""
    jars = sorted(glob.glob(os.path.join(spark_jars(), "*.jar")))
    return os.pathsep.join([os.path.join(OUT, "classes")] + jars)


def build(log=sys.stderr):
    files = sources()
    jars = sorted(glob.glob(os.path.join(spark_jars(), "*.jar")))
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode() + b"\0" + open(f, "rb").read())
    for j in jars:
        h.update(os.path.basename(j).encode())
    stamp = h.hexdigest()
    stamp_file = os.path.join(OUT, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    compiler = [j for j in jars if re.search(r"/scala-(compiler|reflect|library)-[^/]*\.jar$", j)]
    if len(compiler) != 3:
        raise BuildError("Scala compiler jars not found next to Spark's")
    tmp = os.path.join(OUT, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    print("perfbench: compiling %d sources" % len(files), file=log, flush=True)
    r = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
         "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
         "-classpath", os.pathsep.join(jars)] + files,
        stdout=log, stderr=log)
    if r.returncode != 0:
        raise BuildError("compilation failed")
    shutil.rmtree(os.path.join(OUT, "classes"), ignore_errors=True)
    os.rename(tmp, os.path.join(OUT, "classes"))
    with open(stamp_file, "w") as f:
        f.write(stamp)


if __name__ == "__main__":
    try:
        build()
    except BuildError as e:
        print("perfbench: %s" % e, file=sys.stderr)
        sys.exit(2)
