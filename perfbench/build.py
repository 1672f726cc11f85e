"""Build file of the benchmark: compiles graft (src/main/scala) and the
benchmark harness (perfbench/harness) with the Scala compiler that ships
in Spark's jars, into jars under .perfbench/build in the checkout, then
dumps a class-data-sharing archive from one process that runs every
workload's warm-up, so each run's JVM maps the classes instead of
loading them one by one.

A build is reused while the sources it came from are unchanged.

    python3 perfbench/build.py        # prints the run's JVM command
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
WORK = os.path.join(ROOT, ".perfbench")
OUT = os.path.join(WORK, "build")
sys.path.insert(0, HERE)

import gen  # noqa: E402

TRAIN_TIMEOUT_S = 600

# Spark on JDK 17 needs these outside spark-submit (graft's build.sbt
# passes the same set to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]
JVM_FLAGS = (["-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData"] +
             [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")])


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise SystemExit("perfbench: set SPARK_HOME or put spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"perfbench: no Scala compiler jar under {jars}")
    return jars


def _sources(d):
    return sorted(glob.glob(os.path.join(ROOT, d, "**", "*.scala"), recursive=True))


def _digest(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def _replace(name, dest, tmp):
    for old in glob.glob(os.path.join(OUT, f"{name}-*")):
        if old != tmp:
            if os.path.isdir(old):
                shutil.rmtree(old, ignore_errors=True)
            else:
                os.remove(old)
    os.rename(tmp, dest)


def _compile(name, files, classpath, jars):
    """Compile `files` into the jar `name`-<digest>.jar; return its path."""
    if not files:
        raise SystemExit(f"perfbench: no sources for {name}")
    dest = os.path.join(OUT, f"{name}-{_digest(files, classpath)}.jar")
    if os.path.isfile(dest):
        return dest
    classes = os.path.join(OUT, "classes.tmp")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cp = os.pathsep.join(p for p in (classpath, os.path.join(jars, "*")) if p)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", cp] + files
    r = subprocess.run(cmd, capture_output=True, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        raise SystemExit(f"perfbench: compiling {name} failed")
    tmp = dest + ".tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_STORED) as z:
        for d, _, fs in sorted(os.walk(classes)):
            for f in sorted(fs):
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, classes))
    shutil.rmtree(classes, ignore_errors=True)
    _replace(name, dest, tmp)
    return dest


def _archive(cp):
    """The class-data-sharing archive for classpath `cp`, dumped at the
    exit of a training process that runs every workload's warm-up on
    seed-0 inputs; None when the JVM could not make one."""
    key = hashlib.sha256(cp.encode()).hexdigest()[:16]
    dest = os.path.join(OUT, f"classes-{key}.jsa")
    failed = os.path.join(OUT, f"classes-{key}.failed")
    if os.path.isfile(dest):
        return dest
    if os.path.isfile(failed):
        return None
    run_dir = os.path.join(WORK, "runs", f"train-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    tmp = dest + ".tmp"
    args = []
    for w in gen.WORKLOADS:
        args += [w, gen.cached(w, 0, WORK)[0]]
    cmd = (["java"] + JVM_FLAGS +
           [f"-XX:ArchiveClassesAtExit={tmp}", f"-Djava.io.tmpdir={run_dir}/tmp",
            "-cp", cp, "perfbench.Train", run_dir] + args)
    try:
        with open(os.path.join(run_dir, "train.log"), "w") as log:
            rc = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=run_dir,
                                timeout=TRAIN_TIMEOUT_S).returncode
    except subprocess.TimeoutExpired:
        rc = -9
    ok = rc == 0 and os.path.isfile(tmp)
    if ok:
        _replace("classes", dest, tmp)
    else:
        # runs go on without the archive; do not train again for this build
        sys.stderr.write(f"perfbench: no class-data-sharing archive (training exited {rc})\n")
        open(failed, "w").close()
    shutil.rmtree(run_dir, ignore_errors=True)
    return dest if ok else None


def jvm():
    """Build what is stale; return the java command line (up to the main
    class) a run needs."""
    jars = spark_jars()
    os.makedirs(OUT, exist_ok=True)
    engine = _compile("engine", _sources("src/main/scala"), "", jars)
    harness = _compile("harness", _sources("perfbench/harness"), engine, jars)
    cp = os.pathsep.join([harness, engine, os.path.join(jars, "*")])
    jsa = _archive(cp)
    return ["java"] + JVM_FLAGS + ([f"-XX:SharedArchiveFile={jsa}"] if jsa else []) + ["-cp", cp]


if __name__ == "__main__":
    print(" ".join(jvm()))
