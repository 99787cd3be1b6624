"""Build the program under test and the benchmark harness from source.

    python3 perfbench/build.py          # from the root of a checkout

Compiles `src/main/scala` of the checkout into its own jar, then the
harness (`perfbench/harness`) against it, with the Scala compiler that
ships in the Spark distribution's jars. Never uses a prebuilt jar of the
repo, which can lag the sources. Outputs go to `.bench_build/`, keyed by a
hash of the sources, so an unchanged tree is built once.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")


def _sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/**/*.scala"), recursive=True)
                  + glob.glob(os.path.join(root, "src/main/**/*.java"), recursive=True))
    harness = sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))
    return main, harness


def _digest(paths, root):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def _scalac(classpath, out, srcs, log):
    os.makedirs(out, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.dirname(log)}", "-cp", classpath,
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", out] + srcs
    with open(log, "ab") as lf:
        rc = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT).returncode
    if rc != 0:
        raise RuntimeError(f"scalac failed (exit {rc}); see {log}")


def _jar(classes, path):
    tmp = path + ".tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_STORED) as z:
        for dirpath, _, files in os.walk(classes):
            for f in sorted(files):
                full = os.path.join(dirpath, f)
                z.write(full, os.path.relpath(full, classes))
    os.replace(tmp, path)


def ensure(root):
    """Return the classpath (list) for the harness, building when needed."""
    main, harness = _sources(root)
    if not main:
        raise FileNotFoundError(f"no sources under {root}/src/main")
    if not os.path.isdir(SPARK_JARS):
        raise FileNotFoundError(f"Spark jars not found at {SPARK_JARS}")
    out = os.path.join(root, ".bench_build")
    key = _digest(main, root) + "-" + _digest(harness, root)
    graft_jar = os.path.join(out, f"graft-{key}.jar")
    bench_jar = os.path.join(out, f"perfbench-{key}.jar")
    if os.path.exists(graft_jar) and os.path.exists(bench_jar):
        return [bench_jar, graft_jar, os.path.join(SPARK_JARS, "*")]
    work = os.path.join(out, "compile")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    log = os.path.join(out, "build.log")
    spark_cp = os.path.join(SPARK_JARS, "*")
    _scalac(spark_cp, os.path.join(work, "main"), main, log)
    _jar(os.path.join(work, "main"), graft_jar)
    _scalac(spark_cp + os.pathsep + graft_jar, os.path.join(work, "harness"),
            harness, log)
    _jar(os.path.join(work, "harness"), bench_jar)
    shutil.rmtree(work, ignore_errors=True)
    for old in glob.glob(os.path.join(out, "*.jar")):
        if key not in old:
            os.remove(old)
    return [bench_jar, graft_jar, spark_cp]


if __name__ == "__main__":
    print(os.pathsep.join(ensure(os.getcwd())))
    sys.exit(0)
