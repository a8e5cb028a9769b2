"""Builds the program (`src/main/scala`) and the benchmark harness
(`perfbench/harness`) from source with `scalac` from the Spark distribution's
jars, into `.bench_build/perfbench/classes-<hash>.jar`, once per source
state: the hash covers every source file."""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")


def spark_jars():
    """The Spark distribution's jars: under $SPARK_HOME, else under the first
    Spark distribution whose bin/ directory is on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [os.path.dirname(os.path.realpath(d))
                                                 for d in os.environ.get("PATH", "").split(os.pathsep) if d]
    for home in homes:
        if home and os.path.isfile(os.path.join(home, "bin", "spark-submit")) and \
                os.path.isdir(os.path.join(home, "jars")):
            return os.path.join(home, "jars")
    raise SystemExit("no Spark jars found: set SPARK_HOME")


def build():
    """Compiles src/main plus the harness; returns the jar."""
    main_src = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main_src):
        raise SystemExit("no program sources under src/main/scala: run from the repository root")
    srcs = []
    for d in (main_src, os.path.join(HERE, "harness")):
        for dp, _, fs in os.walk(d):
            srcs += [os.path.join(dp, f) for f in fs if f.endswith(".scala")]
    srcs.sort()
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16] + ".jar")
    if os.path.isfile(out):
        return out
    jars = spark_jars()
    tmp = out + f".d{os.getpid()}"
    os.makedirs(tmp)
    argfile = tmp + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    os.makedirs(f"{BUILD}/tmp", exist_ok=True)
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={BUILD}/tmp", "-cp", f"{jars}/*",
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", f"{jars}/*", "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    os.remove(argfile)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("build failed")
    res = os.path.join(ROOT, "src", "main", "resources")
    if os.path.isdir(res):
        shutil.copytree(res, tmp, dirs_exist_ok=True)
    # a jar, not a directory, so the JVM can keep a class-data archive of it
    with zipfile.ZipFile(out + ".tmp", "w", zipfile.ZIP_STORED) as z:
        for dp, _, fs in os.walk(tmp):
            for f in fs:
                z.write(os.path.join(dp, f), os.path.relpath(os.path.join(dp, f), tmp))
    shutil.rmtree(tmp)
    os.replace(out + ".tmp", out)
    return out
