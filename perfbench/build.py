"""Build file of the benchmark package.

Compiles the engine's sources (src/main/scala) together with the
benchmark's own JVM program (perfbench/src) using the Scala compiler that
ships in the Spark distribution, packs them with src/main/resources into one jar,
and records a class-data-sharing archive of a short training run so each
benchmark JVM starts faster. Everything lands in .bench_build/perfbench/build/
of the checkout; a rebuild happens only when a source file changes.

    python3 perfbench/build.py        # prints the jar path
"""

import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
BUILD = os.path.join(OUT, "build")

JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME/jars, else the
    `unmanagedBase` the engine's own build.sbt compiles against."""
    home = os.environ.get("SPARK_HOME")
    if home:
        base = os.path.join(home, "jars")
    else:
        sbt = os.path.join(ROOT, "build.sbt")
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read()) \
            if os.path.exists(sbt) else None
        if not m:
            raise BuildError("SPARK_HOME is not set and build.sbt names no Spark jars")
        base = m.group(1)
    jars = sorted(glob.glob(os.path.join(base, "*.jar")))
    if not jars:
        raise BuildError(f"no Spark jars under {base}")
    return jars


def sources():
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(os.path.join(engine, "graft")):
        raise BuildError(f"engine sources not found at {engine}")
    files = []
    for base in (engine, os.path.join(HERE, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def resources():
    base = os.path.join(ROOT, "src", "main", "resources")
    out = []
    for d, _, names in os.walk(base):
        out += [(os.path.join(d, n), os.path.relpath(os.path.join(d, n), base)) for n in names]
    return sorted(out)


def digest(files):
    h = hashlib.sha256()
    for f in files + [os.path.abspath(__file__), os.path.join(HERE, "log4j2.properties")]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def java_opts():
    opts = []
    for p in JDK_OPENS:
        opts += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return opts + [
        "-XX:-UsePerfData",
        "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
        "-Dspark.sql.session.timeZone=UTC",
    ]


def java_env():
    """The environment for benchmark JVMs: without the variables that would
    move Spark's local directories out of the run directory."""
    return {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS")}


def classpath():
    return ":".join([os.path.join(BUILD, "bench.jar")] + spark_jars())


def archive():
    """The class-data-sharing archive, if the build produced one."""
    p = os.path.join(BUILD, "app.jsa")
    return p if os.path.exists(p) else None


def build(log=sys.stderr):
    """Builds if any input changed; returns the jar path."""
    srcs = sources()
    res = resources()
    key = digest(srcs + [p for p, _ in res])
    stamp = os.path.join(BUILD, "digest")
    jar = os.path.join(BUILD, "bench.jar")
    if os.path.exists(stamp) and os.path.exists(jar) and open(stamp).read() == key:
        return jar
    shutil.rmtree(BUILD, ignore_errors=True)
    classes = os.path.join(BUILD, "classes")
    os.makedirs(classes)
    jars = spark_jars()
    scalac = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    if len(scalac) != 3:
        raise BuildError("Scala compiler jars not found in the Spark distribution")
    print(f"perfbench: compiling {len(srcs)} sources", file=log, flush=True)
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss16m", "-Xmx2g", "-cp", ":".join(scalac),
                        "scala.tools.nsc.Main", "-nowarn", "-d", classes,
                        "-classpath", ":".join(jars)] + srcs,
                       stdout=log, stderr=log, timeout=600)
    if r.returncode != 0:
        raise BuildError(f"scalac failed with code {r.returncode}")
    with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_STORED) as z:
        for d, _, names in os.walk(classes):
            for n in names:
                p = os.path.join(d, n)
                z.write(p, os.path.relpath(p, classes))
        for p, rel in res:
            z.write(p, rel)
    os.replace(jar + ".tmp", jar)
    shutil.rmtree(classes)
    train(log)
    with open(stamp, "w") as fh:
        fh.write(key)
    return jar


def train(log):
    """Records the classes a short serve-http run on a tiny corpus loads
    into app.jsa. A failure only costs start-up time, so it is logged and
    ignored."""
    run_dir = os.path.join(BUILD, "train")
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    cmd = (["java", "-Xmx2g", f"-XX:ArchiveClassesAtExit={os.path.join(BUILD, 'app.jsa')}",
            "-Xlog:cds=off", "-Xlog:cds+dynamic=off",
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}"]
           + java_opts() + ["-cp", classpath(), "graft.perfbench.Main",
                            "--workload", "serve-http", "--seed", "1", "--seconds", "1",
                            "--trace", "1", "--docs", "200", "--dir", run_dir,
                            "--out", os.path.join(run_dir, "raw.json")])
    print("perfbench: recording the class-data-sharing archive", file=log, flush=True)
    try:
        r = subprocess.run(cmd, stdout=log, stderr=log, timeout=300, env=java_env())
        if r.returncode != 0:
            print(f"perfbench: training run failed ({r.returncode}); no archive", file=log)
            if os.path.exists(os.path.join(BUILD, "app.jsa")):
                os.remove(os.path.join(BUILD, "app.jsa"))
    except subprocess.TimeoutExpired:
        print("perfbench: training run timed out; no archive", file=log)
    shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"perfbench build: {e}", file=sys.stderr)
        sys.exit(2)
