"""Builds the engine and the benchmark's JVM side from source.

The engine's Scala sources (``src/main/scala``) and the benchmark's own
(``perfbench/scala``) compile in one ``scalac`` pass against the Spark
distribution's jars, into ``.bench_build/classes``. A stamp of every source
file's path and bytes skips the compile when nothing changed.
"""
import glob
import hashlib
import os
import subprocess

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    jars bundled with the pyspark package."""
    home = os.environ.get("SPARK_HOME")
    if home and glob.glob(os.path.join(home, "jars", "spark-core_*.jar")):
        return os.path.join(home, "jars")
    try:
        import pyspark
        d = os.path.join(os.path.dirname(pyspark.__file__), "jars")
        if glob.glob(os.path.join(d, "spark-core_*.jar")):
            return d
    except ImportError:
        pass
    raise RuntimeError("no Spark jars found: set SPARK_HOME")


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        raise RuntimeError("engine sources not found under src/main/scala")
    own = os.path.join(ROOT, "perfbench", "scala")
    return sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True) +
                  glob.glob(os.path.join(own, "**", "*.scala"), recursive=True))


def classpath():
    return CLASSES + os.pathsep + os.path.join(spark_jars(), "*")


def build():
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = os.path.join(BUILD, "classes.stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return
    jars = spark_jars()
    compiler = [os.path.join(jars, n) for n in
                ("scala-compiler-*.jar", "scala-library-*.jar", "scala-reflect-*.jar")]
    compiler = [sorted(glob.glob(p))[-1] for p in compiler]
    tmp = CLASSES + ".tmp"
    subprocess.run(["rm", "-rf", tmp], check=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    subprocess.run(
        ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler),
         "scala.tools.nsc.Main", "-nowarn", "-classpath", os.path.join(jars, "*"),
         "-d", tmp, "@" + argfile],
        check=True, stdout=subprocess.DEVNULL)
    subprocess.run(["rm", "-rf", CLASSES], check=True)
    os.rename(tmp, CLASSES)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
