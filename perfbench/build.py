"""Build file of the benchmark: compiles the program (src/main/scala) and
the harness (perfbench/harness) with the Scala compiler that ships among
the project's Spark jars, into .bench_build/classes under the repository
root. A build is skipped when the sources and the compiler are unchanged.

    python3 perfbench/build.py      # from the repository root
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


class BuildError(Exception):
    pass


def jars_dir(root):
    """The Spark jar directory the project's build.sbt declares, else
    $SPARK_HOME/jars."""
    candidates = []
    sbt = os.path.join(root, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m:
            candidates.append(m.group(1))
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    for c in candidates:
        if glob.glob(os.path.join(c, "spark-core_*.jar")):
            return c
    raise BuildError("no Spark jar directory (build.sbt unmanagedBase or $SPARK_HOME/jars)")


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    if not main:
        raise BuildError(f"no program sources under {root}/src/main/scala")
    return main + sorted(glob.glob(os.path.join(HERE, "harness/**/*.scala"), recursive=True))


def ensure(root):
    """Builds if needed; returns the runtime classpath."""
    jars = jars_dir(root)
    srcs = sources(root)
    compiler = [glob.glob(os.path.join(jars, f"scala-{p}-2.*.jar"))
                for p in ("compiler", "library", "reflect")]
    if not all(compiler):
        raise BuildError(f"no Scala compiler jars in {jars}")
    compiler = [c[0] for c in compiler]
    stamp = hashlib.sha256()
    for path in compiler + srcs:
        stamp.update(path.encode() + b"\0")
        if path in srcs:
            stamp.update(open(path, "rb").read())
    stamp = stamp.hexdigest()

    out = os.path.join(root, ".bench_build")
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "stamp")
    if not (os.path.exists(stamp_file) and open(stamp_file).read() == stamp):
        fresh = classes + ".new"
        shutil.rmtree(fresh, ignore_errors=True)
        os.makedirs(fresh)
        argfile = os.path.join(out, "sources.txt")
        with open(argfile, "w") as f:
            f.write("\n".join(f'"{s}"' for s in srcs))
        r = subprocess.run(
            ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler),
             "scala.tools.nsc.Main", "-nowarn", "-classpath", os.path.join(jars, "*"),
             "-d", fresh, "@" + argfile],
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            raise BuildError("scalac failed:\n" + r.stdout[-4000:])
        shutil.rmtree(classes, ignore_errors=True)
        os.rename(fresh, classes)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return os.pathsep.join([classes, os.path.join(jars, "*")])


if __name__ == "__main__":
    try:
        print(ensure(os.getcwd()))
    except BuildError as e:
        sys.exit(f"build failed: {e}")
