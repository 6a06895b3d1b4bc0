"""Build file of the benchmark: compiles the engine (src/main/scala) and
the harness (bench/scala) with the Scala compiler that ships in Spark's
jars, into .bench_build. A stamp of the sources' hash skips the compile
when nothing changed.

    python3 bench/build.py        # from the repository root
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars(root):
    """Spark's jar directory: $SPARK_HOME/jars, else the unmanagedBase the
    project's build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(root, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if not m:
        raise RuntimeError("build.sbt names no unmanagedBase jar directory")
    return m.group(1)


def build_dir(root):
    return os.path.join(root, ".bench_build")


def build(root):
    """Return the classes directory, compiling first if needed."""
    engine = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"),
                              recursive=True))
    if not engine:
        raise RuntimeError(f"no engine sources under {root}/src/main/scala")
    srcs = engine + sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    resources = os.path.join(root, "src/main/resources")
    res_files = sorted(glob.glob(os.path.join(resources, "**/*"), recursive=True))
    digest = hashlib.sha256()
    for f in srcs + [r for r in res_files if os.path.isfile(r)]:
        digest.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    digest = digest.hexdigest()

    out = build_dir(root)
    classes, stamp = os.path.join(out, "classes"), os.path.join(out, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return classes
    os.makedirs(out, exist_ok=True)
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(spark_jars(root), "*"),
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp", "-d", tmp,
           "@" + argfile]
    subprocess.run(cmd, check=True, stdout=sys.stderr, stderr=sys.stderr)
    if os.path.isdir(resources):
        shutil.copytree(resources, tmp, dirs_exist_ok=True)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return classes


if __name__ == "__main__":
    print(build(os.getcwd()))
