#!/usr/bin/env python3
"""Build the engine and the benchmark harness from source.

Compiles the engine (`src/main/scala`) and then the harness
(`perfbench/src`) with the Scala compiler that ships in the Spark
distribution and packs each into a jar under `.bench_build/` at the
repository root, then records a class-data-sharing archive of the classes
a short training run loads. Every benchmark JVM maps that archive with
`-Xshare:on`, so it fails to start rather than run without it; loading
Spark's classes from the archive takes about 15-25% off a run's wall time
on a 4-core VM (setup_s included). Each step is skipped when a stamp of
its inputs matches the last build; a failed step is a build error.

    python3 perfbench/build.py      # prints the java options on success
"""
import hashlib
import os
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
SPARK_JARS = "/opt/spark/jars"
TRAIN_TIMEOUT_S = 400
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def build_dir():
    return os.path.join(ROOT, ".bench_build")


def sources(d):
    out = []
    for dirpath, _, files in os.walk(d):
        out += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def stamp(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def fresh(path, value):
    s = path + ".stamp"
    return os.path.exists(path) and os.path.exists(s) and open(s).read() == value


def mark(path, value):
    with open(path + ".stamp", "w") as fh:
        fh.write(value)


def compile_jar(files, jar, classpath, value):
    """Compile `files` against `classpath` into `jar`, unless up to date."""
    if fresh(jar, value):
        return
    out = jar + ".classes"
    subprocess.run(["rm", "-rf", out, jar], check=True)
    os.makedirs(out)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", classpath, "scala.tools.nsc.Main",
           "-usejavacp", "-deprecation", "-nowarn", "-d", out] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-20000:])
        raise SystemExit("compile failed: " + os.path.basename(jar))
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_DEFLATED) as z:
        for dirpath, _, names in os.walk(out):
            for n in sorted(names):
                f = os.path.join(dirpath, n)
                z.write(f, os.path.relpath(f, out))
    subprocess.run(["rm", "-rf", out], check=True)
    mark(jar, value)


def spark_jars():
    jars = sorted(os.path.join(SPARK_JARS, j) for j in os.listdir(SPARK_JARS)
                  if j.endswith(".jar")) if os.path.isdir(SPARK_JARS) else []
    if not any(os.path.basename(j).startswith("spark-sql_") for j in jars):
        raise SystemExit("no Spark jars under " + SPARK_JARS)
    return jars


def jvm_args(classpath):
    """The JVM options every benchmark process runs with."""
    bd = build_dir()
    tmp = os.path.join(bd, "tmp")
    os.makedirs(tmp, exist_ok=True)
    args = []
    for p in ADD_OPENS:
        args += ["--add-opens", p + "=ALL-UNNAMED"]
    # no perf-data file: the JVM would write it under /tmp
    return args + ["-XX:-UsePerfData", "-Xmx3g", "-Xss4m", "-Djava.io.tmpdir=" + tmp,
                   "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
                   "-cp", classpath]


def jvm_env():
    return dict(os.environ, SPARK_LOCAL_IP="127.0.0.1", SPARK_LOCAL_HOSTNAME="localhost",
                PERFBENCH_BUILD=build_dir())


def java_version():
    r = subprocess.run(["java", "-version"], stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    return r.stdout


def archive(classpath, value):
    """Record the class-data-sharing archive from a training run of the
    serve workload, unless up to date, and check that it maps."""
    jsa = os.path.join(build_dir(), "perfbench.jsa")
    if fresh(jsa, value):
        return jsa
    for f in (jsa, jsa + ".stamp"):
        if os.path.exists(f):
            os.remove(f)
    sys.stderr.write("[perfbench] recording the class-data-sharing archive\n")
    try:
        r = subprocess.run(["java", "-XX:ArchiveClassesAtExit=" + jsa] + jvm_args(classpath) +
                           ["perfbench.Main", "--workload", "serve", "--seed", "0",
                            "--seconds", "1", "--trace", "0"],
                           cwd=ROOT, env=jvm_env(), stdout=subprocess.DEVNULL,
                           stderr=subprocess.PIPE, text=True, timeout=TRAIN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise SystemExit("the class-data-sharing training run exceeded %d s" % TRAIN_TIMEOUT_S)
    if r.returncode != 0 or not os.path.exists(jsa):
        sys.stderr.write(r.stderr[-5000:])
        raise SystemExit("the class-data-sharing training run failed")
    r = subprocess.run(["java"] + cds_args(jsa) + jvm_args(classpath) + ["-version"],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-5000:])
        raise SystemExit("the class-data-sharing archive does not map")
    mark(jsa, value)
    return jsa


def cds_args(jsa):
    return ["-Xshare:on", "-XX:SharedArchiveFile=" + jsa]


def build():
    """Build what changed; return the java options and classpath a
    benchmark JVM runs with."""
    engine = sources(ENGINE_SRC)
    bench = sources(BENCH_SRC)
    if not engine:
        raise SystemExit("no engine sources under " + ENGINE_SRC)
    jars = spark_jars()
    spark_cp = os.pathsep.join(jars)
    bd = build_dir()
    os.makedirs(bd, exist_ok=True)
    engine_jar = os.path.join(bd, "engine.jar")
    bench_jar = os.path.join(bd, "bench.jar")
    engine_stamp = stamp(engine)
    bench_stamp = stamp(bench, engine_stamp)
    compile_jar(engine, engine_jar, spark_cp, engine_stamp)
    compile_jar(bench, bench_jar, spark_cp + os.pathsep + engine_jar, bench_stamp)
    classpath = os.pathsep.join([bench_jar, engine_jar] + jars)
    jsa = archive(classpath, stamp([os.path.join(HERE, "log4j2.properties")],
                                   bench_stamp + java_version() + " ".join(jvm_args(classpath))))
    return cds_args(jsa) + jvm_args(classpath)


if __name__ == "__main__":
    print(" ".join(build()))
