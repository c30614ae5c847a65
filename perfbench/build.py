"""Compile the engine and the benchmark program from source.

The engine (`src/main/scala`) and the benchmark (`perfbench/scala`) are compiled
with the Scala compiler that ships among Spark's jars, against those jars,
into `<build>/classes`. A digest of every source file, the compiler and the
JDK decides whether a previous build can be reused.
"""
import glob
import hashlib
import os
import shutil
import subprocess


def spark_jars():
    """Spark's jar directory: `$SPARK_HOME/jars`, else next to `spark-submit`."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise RuntimeError("Spark jars with a Scala compiler not found; set SPARK_HOME")
    return jars


def _sources(root):
    engine = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"),
                              recursive=True))
    bench = sorted(glob.glob(os.path.join(root, "perfbench/scala/*.scala")))
    if not engine or not bench:
        raise RuntimeError(f"no Scala sources under {root}/src/main/scala "
                           "or perfbench/scala")
    return engine, bench


def _digest(root, paths, *extra):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, root).encode())
        h.update(open(p, "rb").read())
    for x in extra:
        h.update(x)
    return h.hexdigest()


def source_digest(root):
    """Digest of the engine sources alone: names the program version."""
    return _digest(root, _sources(root)[0])[:16]


def _compile(jars, classpath, out, files, log):
    if os.path.isdir(out):
        shutil.rmtree(out)
    os.makedirs(out)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g",
           "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main", "-nowarn",
           "-classpath", classpath, "-d", out] + files
    with open(log, "ab") as f:
        subprocess.run(cmd, stdout=f, stderr=subprocess.STDOUT, check=True)


def build(root, build_dir):
    """Compile if needed; return the runtime classpath."""
    jars = spark_jars()
    engine, bench = _sources(root)
    key = _digest(root, engine + bench, " ".join(sorted(os.listdir(jars))).encode(),
                  subprocess.run(["java", "-XX:-UsePerfData", "-version"],
                                 capture_output=True).stderr)
    classes = os.path.join(build_dir, "classes")
    engine_out = os.path.join(classes, "engine")
    bench_out = os.path.join(classes, "bench")
    stamp = os.path.join(build_dir, "build.stamp")
    classpath = ":".join([bench_out, engine_out, os.path.join(jars, "*")])
    if os.path.exists(stamp) and open(stamp).read() == key:
        return classpath
    os.makedirs(build_dir, exist_ok=True)
    if os.path.exists(stamp):
        os.remove(stamp)
    log = os.path.join(build_dir, "build.log")
    open(log, "w").close()
    _compile(jars, os.path.join(jars, "*"), engine_out, engine, log)
    _compile(jars, ":".join([engine_out, os.path.join(jars, "*")]), bench_out,
             bench, log)
    with open(stamp, "w") as f:
        f.write(key)
    return classpath
