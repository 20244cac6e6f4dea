"""Build file of the benchmark: compiles the repository's main sources and
the driver under perfbench/src into one class directory with the scalac
that ships among the Spark distribution's jars. Skips the compile when no
source changed.

Usage: python3 perfbench/build.py   (from the repository root)
Prints the class directory on success.
"""
import glob
import hashlib
import os
import re
import subprocess

BUILD = os.path.join(".bench_build", "perfbench")


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME/jars, else the
    `unmanagedBase` directory the repository's build.sbt compiles against."""
    home = os.environ.get("SPARK_HOME")
    if home:
        jar_dir = os.path.join(home, "jars")
    else:
        with open("build.sbt") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        jar_dir = m.group(1) if m else ""
    jars = sorted(glob.glob(os.path.join(jar_dir, "*.jar")))
    if not jars:
        raise SystemExit("no Spark jars found: set SPARK_HOME")
    return jars


def sources():
    main = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    if not main:
        raise SystemExit("src/main/scala holds no sources: run from the repository root")
    return main + sorted(glob.glob("perfbench/src/*.scala"))


def build():
    srcs = sources()
    digest = hashlib.sha256()
    for s in srcs:
        with open(s, "rb") as f:
            digest.update(s.encode() + b"\0" + f.read())
    stamp = digest.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    subprocess.run(["rm", "-rf", classes], check=True)
    os.makedirs(classes)
    cp = ":".join(spark_jars())
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp,
                        "scala.tools.nsc.Main", "-nowarn", "-d", classes,
                        "-classpath", cp] + srcs)
    if r.returncode != 0:
        raise SystemExit("scalac failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


if __name__ == "__main__":
    print(build())
