"""Build file of the benchmark: compiles the engine's sources
(`src/main/scala`) together with the harness (`perfbench/scala`) into
`perfbench/.build/classes`, with the Scala compiler and the jars that ship
with the Spark installation. The build is skipped when no
source changed since the last one.

    python3 perfbench/build.py          # from the repository root
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BUILD = os.path.join(HERE, ".build")
CLASSES = os.path.join(BUILD, "classes")


def spark_jars():
    """The Spark installation's jars, $SPARK_HOME/jars."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        raise FileNotFoundError("SPARK_HOME is not set")
    return os.path.join(home, "jars")


def sources(root):
    engine = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"),
                              recursive=True))
    harness = sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    return engine, harness


def build(root, log=sys.stderr):
    """Compile if needed; return the classes directory."""
    engine, harness = sources(root)
    if not engine:
        raise FileNotFoundError(f"no engine sources under {root}/src/main/scala")
    jars = spark_jars()
    if not os.path.isdir(jars):
        raise FileNotFoundError(f"no Spark jars at {jars}")
    h = hashlib.sha256()
    for path in engine + harness:
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return CLASSES
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(engine + harness))
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", CLASSES, "-cp", cp, "@" + argfile]
    subprocess.run(cmd, check=True, stdout=log, stderr=log, timeout=800)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return CLASSES


if __name__ == "__main__":
    print(build(os.getcwd(), log=sys.stdout))
