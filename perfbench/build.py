"""Build file of the benchmark.

Compiles the program (src/main/scala) and the harness (perfbench/src)
into one jar with the Scala compiler that ships among Spark's jars: no
sbt, no network, nothing written outside the output directory. Then a
short training run on tiny inputs records the classes a run loads into
a class-data-sharing archive, which cuts each run's JVM start-up and
class loading by several seconds. A stamp of every source file skips
both steps when nothing changed.

Usage: python3 perfbench/build.py [out_dir]   (default .bench_build/perfbench)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def spark_jars():
    """Spark's jars, from $SPARK_HOME or the install `spark-submit` belongs to."""
    submit = shutil.which("spark-submit")
    for home in (os.environ.get("SPARK_HOME"),
                 submit and os.path.dirname(os.path.dirname(os.path.realpath(submit)))):
        if home and glob.glob(os.path.join(home, "jars", "scala-compiler-*.jar")):
            return sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
    raise SystemExit("perfbench: no Spark jars with a Scala compiler found (set SPARK_HOME)")


def sources(root):
    main = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(main):
        raise SystemExit(f"perfbench: program sources not found under {main}")
    files = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(root, "perfbench", "src", "**", "*.scala"), recursive=True))
    return files


def java(work, cp, main, args, archive=None, dump=False):
    """The command that runs `main` the way every benchmark run does,
    with its temporary files under `work`."""
    cds = []
    if archive:
        cds = [f"-XX:ArchiveClassesAtExit={archive}" if dump else f"-XX:SharedArchiveFile={archive}"]
    return (["java"] + ADD_OPENS + cds + [
        "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, main] + args)


def build(root, out):
    """Returns (classpath, class-data archive or None) to run the harness with."""
    jars = spark_jars()
    files = sources(root)
    stamp = hashlib.sha256()
    for f in files + [os.path.abspath(__file__)]:
        stamp.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            stamp.update(fh.read())
    stamp.update(" ".join(jars).encode())
    digest = stamp.hexdigest()
    jar = os.path.join(out, "graft-bench.jar")
    archive = os.path.join(out, "classes.jsa")
    stamp_file = os.path.join(out, "stamp")
    cp = os.pathsep.join([jar] + jars)
    if os.path.exists(stamp_file) and open(stamp_file).read() == digest:
        return cp, archive if os.path.exists(archive) else None
    shutil.rmtree(out, ignore_errors=True)
    classes = os.path.join(out, "classes")
    os.makedirs(classes)
    compile_cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.pathsep.join(jars),
                   "scala.tools.nsc.Main", "-nowarn", "-d", classes,
                   "-classpath", os.pathsep.join(jars)] + files
    proc = subprocess.run(compile_cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit(f"perfbench: compile failed (rc {proc.returncode})")
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for d, _, names in os.walk(classes):
            for n in sorted(names):
                z.write(os.path.join(d, n), os.path.relpath(os.path.join(d, n), classes))
    shutil.rmtree(classes)
    train = os.path.join(out, "train")
    os.makedirs(os.path.join(train, "tmp"))
    with open(os.path.join(out, "train.log"), "w") as log:
        rc = subprocess.run(java(train, cp, "graftbench.Main", ["--workload", "train", "--work", train],
                                 archive, dump=True), stdout=log, stderr=subprocess.STDOUT).returncode
    shutil.rmtree(train, ignore_errors=True)
    if rc != 0 or not os.path.exists(archive):
        # the archive only shortens JVM start-up; runs work without it
        sys.stderr.write(f"perfbench: no class-data archive (training rc {rc}); see {out}/train.log\n")
        if os.path.exists(archive):
            os.remove(archive)
        archive = None
    with open(stamp_file, "w") as fh:
        fh.write(digest)
    return cp, archive


if __name__ == "__main__":
    build(os.getcwd(), sys.argv[1] if len(sys.argv) > 1 else
          os.path.join(os.getcwd(), ".bench_build", "perfbench"))
