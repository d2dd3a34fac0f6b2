#!/usr/bin/env python3
"""Build step of the graft benchmark.

Compiles graft's own sources (src/main/scala) together with the
benchmark's harness (perfbench/scala) with the Scala compiler that ships
in the Spark distribution into one jar, then generates the benchmark's
fixed tables with graft.GenData. The generating JVM also dumps a class
data sharing archive of the classes it loaded, which every benchmark
JVM maps: a run's JVM and Spark start-up then take ~3 s instead of
~6 s, so more of a run's time budget goes to measuring. Everything lands
under .bench_build/<key>/ in the checkout, where <key> hashes every
source file, so a changed source rebuilds and an unchanged one is
reused.

    python3 perfbench/build.py        # from the root of a checkout
"""
import fcntl
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
# -XX:-UsePerfData: no hsperfdata file outside the checkout
JVM_OPENS = ["-XX:-UsePerfData"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
# the tables the sweep's six queries read; serve reads events only
GEN_TABLES = "events,documents,embeddings"


class BuildError(Exception):
    pass


def spark_jars():
    """The jars of $SPARK_HOME, else of the first distribution on PATH
    (bin/spark-submit) that ships the Scala compiler."""
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(p, "spark-submit"))))
        for p in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(p, "spark-submit"))]
    for home in homes:
        d = os.path.join(home, "jars")
        jars = sorted(os.path.join(d, j) for j in os.listdir(d) if j.endswith(".jar")) \
            if os.path.isdir(d) else []
        if any("scala-compiler" in j for j in jars):
            return jars
    raise BuildError(f"no Spark distribution with a scala-compiler jar in {homes} (set SPARK_HOME)")


def sources(root):
    graft = os.path.join(root, "src", "main", "scala")
    bench = os.path.join(HERE, "scala")
    if not os.path.isdir(graft):
        raise BuildError(f"graft sources not found at {graft}: run from the root of a graft checkout")
    out = []
    for top in (graft, bench):
        for d, _, files in os.walk(top):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def cores():
    return len(os.sched_getaffinity(0))


def child_env(root, tmp):
    """Environment for every JVM the benchmark starts: graft's own
    tuning variables are dropped, scratch space stays in the checkout."""
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_LOCAL_DIRS"] = tmp
    env["TMPDIR"] = tmp
    return env


def ensure(root):
    """Returns (classpath, JVM flags, data_dir, key), building what is missing."""
    srcs = sources(root)
    jars = spark_jars()
    h = hashlib.sha256()
    with open(os.path.abspath(__file__), "rb") as fh:  # how it is built counts too
        h.update(fh.read())
    for f in srcs:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    key = h.hexdigest()[:16]
    base = os.path.join(root, ".bench_build", key)
    jar = os.path.join(base, "perfbench.jar")
    data = os.path.join(base, "data")
    archive = os.path.join(base, "classes.jsa")
    os.makedirs(base, exist_ok=True)
    with open(os.path.join(base, ".lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not os.path.exists(jar):
            compile_all(srcs, jars, jar, base)
        # a jar-only classpath: class data sharing refuses directories
        cp = os.pathsep.join([jar] + jars)
        if not os.path.exists(os.path.join(data, ".done")):
            generate(root, cp, data, base, archive)
    flags = [f"-XX:SharedArchiveFile={archive}"] if os.path.exists(archive) else []
    return cp, flags, data, key


def compile_all(srcs, jars, jar, base):
    classes = os.path.join(base, "classes.tmp")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(base, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.pathsep.join(jars)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", cp, "@" + argfile]
    print(f"[perfbench] compiling {len(srcs)} sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise BuildError("scalac failed")
    with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_STORED) as z:
        for d, _, files in os.walk(classes):
            for f in files:
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, classes))
    shutil.rmtree(classes)
    os.rename(jar + ".tmp", jar)


def generate(root, cp, data, base, archive):
    tmp = data + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    scratch = os.path.join(base, "gen-scratch")
    os.makedirs(scratch, exist_ok=True)
    cmd = ["java", "-Xmx2g", *JVM_OPENS, f"-XX:ArchiveClassesAtExit={archive}",
           f"-Djava.io.tmpdir={scratch}", "-cp", cp, "perfbench.Prepare", tmp, str(min(cores(), 8))]
    print("[perfbench] generating tables", file=sys.stderr)
    env = dict(child_env(root, scratch), SPARK_GRAFT_GEN_TABLES=GEN_TABLES)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       env=env, cwd=root)
    shutil.rmtree(scratch, ignore_errors=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise BuildError("table generation failed")
    shutil.rmtree(os.path.join(tmp, ".spark-local"), ignore_errors=True)
    open(os.path.join(tmp, ".done"), "w").close()
    shutil.rmtree(data, ignore_errors=True)
    os.rename(tmp, data)


if __name__ == "__main__":
    try:
        key = ensure(os.getcwd())[-1]
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
    print(key)
