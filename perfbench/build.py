"""Build file of the benchmark: compiles graft's main sources and the
harness under perfbench/src with the Scala compiler that ships in
Spark's jar directory, packs them into <build dir>/graft.jar, and dumps
a class-data-sharing archive (<build dir>/graft.jsa) from one short
training run, so each benchmark JVM maps the Spark and graft classes
instead of loading and verifying them again.

A hash of every source file skips all of this when nothing changed.
Run directly (`python3 perfbench/build.py`) or through run.py.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
JDK17_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
               "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
               "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
               "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
               "java.base/sun.util.calendar"]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:  # a pyspark install carries the same jars
        try:
            import pyspark
        except ImportError:
            raise RuntimeError("set SPARK_HOME to a Spark 4 install")
        home = os.path.dirname(pyspark.__file__)
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "spark-core_*.jar")):
        raise RuntimeError(f"no Spark jars under {jars} (set SPARK_HOME)")
    return jars


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


def sources():
    files = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise RuntimeError(f"missing source directory {os.path.relpath(d, ROOT)}")
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names if n.endswith((".scala", ".java"))]
    return sorted(files)


def java_cmd(cp, tmp_dir, archive_opt):
    """The harness JVM command line up to the main class arguments: the
    options Spark needs on JDK 17 outside spark-submit (as in build.sbt)."""
    cmd = ["java", "-Xmx3g", "-Xss16m", archive_opt,
           f"-Djava.io.tmpdir={tmp_dir}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", cp, "perfbench.Harness"]


def build():
    """Compile if needed; return the harness command prefix
    (java_cmd without its tmp dir: a function of the tmp dir)."""
    jars = spark_jars()
    bdir = build_dir()
    jar = os.path.join(bdir, "graft.jar")
    archive = os.path.join(bdir, "graft.jsa")
    cp = f"{jar}{os.pathsep}{jars}/*"
    files = sources()
    h = hashlib.sha256()
    for f in files:
        with open(f, "rb") as fh:
            h.update(os.path.relpath(f, ROOT).encode() + b"\0" + fh.read())
    stamp = os.path.join(bdir, "build.stamp")
    if not (os.path.exists(stamp) and open(stamp).read() == h.hexdigest()):
        compile_and_train(jars, files, jar, archive, cp)
        with open(stamp, "w") as fh:
            fh.write(h.hexdigest())
    return lambda tmp: java_cmd(cp, tmp, f"-XX:SharedArchiveFile={archive}")


def compile_and_train(jars, files, jar, archive, cp):
    bdir = build_dir()
    out = os.path.join(bdir, "classes")
    for f in (jar, archive):
        if os.path.exists(f):
            os.remove(f)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cmd = ["java", "-Xmx3g", "-Xss16m", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", f"{jars}/*"] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise RuntimeError("scalac failed:\n" + r.stdout[-4000:])
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for base, _, names in sorted(os.walk(out)):
            for n in sorted(names):
                p = os.path.join(base, n)
                z.write(p, os.path.relpath(p, out))
    # training run: one tiny grid-scale run exercises Spark SQL, the
    # shuffle, parquet and the raster/catalog stack
    import gen
    train = os.path.join(bdir, "train")
    shutil.rmtree(train, ignore_errors=True)
    rows = gen.generate(os.path.join(train, "data"), 0, 0.001)
    os.makedirs(os.path.join(train, "tmp"))
    cmd = java_cmd(cp, os.path.join(train, "tmp"), f"-XX:ArchiveClassesAtExit={archive}") + [
        "workload=grid-scale", f"data={os.path.join(train, 'data')}", f"out={train}",
        "seed=0", "seconds=0", "trace=1", "setups=1", f"rows.lineitem={rows['lineitem']}",
        f"rows.documents={rows['documents']}"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    shutil.rmtree(train, ignore_errors=True)
    if r.returncode != 0 or not os.path.exists(archive):
        raise RuntimeError("class-data-sharing training run failed:\n" + r.stdout[-4000:])


if __name__ == "__main__":
    try:
        build()
    except RuntimeError as e:
        sys.exit(str(e))
