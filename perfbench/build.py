"""Build file of the benchmark.

1. Compiles the repo's Scala sources together with the benchmark's own
   (perfbench/src) into one jar, with the Scala compiler that ships in
   Spark's jar directory ($SPARK_HOME/jars, else the jars of the installed
   pyspark package), so it needs no build tool and no network.
2. Runs perfbench.Train once: one cycle of every workload in one JVM. That
   JVM dumps the class-data archive every benchmark run maps, and writes
   each query-action job's output, which is then compared with its DuckDB
   oracle (perfbench/oracle.py). `verified.json` holds each job kind's
   checked digest; benchmark runs compare their outputs' digests with it.

The output is keyed by a hash of every source file, so an unchanged
checkout builds once, and builds of different sources can share one build
directory.

    python3 perfbench/build.py            # prints the jar
"""
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import zipfile

SOURCES = ("src/main/scala", "perfbench/src")
DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.1")
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
TRAIN_TIMEOUT_S = 600


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        import pyspark
    except ImportError:
        sys.exit("perfbench: no Spark found (set SPARK_HOME or install pyspark)")
    return os.path.join(os.path.dirname(pyspark.__file__), "jars")


def target_dir(root):
    return os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def jvm_local_files(root):
    """JVM options that keep the files a JVM writes on its own inside the
    checkout: no perf-data file, temp files under the build directory."""
    tmp = os.path.join(target_dir(root), "tmp")
    os.makedirs(tmp, exist_ok=True)
    return ["-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]


def java(root, jar, main, *args, opts=()):
    """The command line of a benchmark JVM running `main`."""
    return (["java", "-Xmx4g", *opts, *jvm_local_files(root),
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
            + ["-cp", jar + os.pathsep + os.path.join(spark_jars(), "*"), main, *args])


def jvm_env(root):
    """`graft.Scratch` placement inside the checkout, and the CPU count."""
    return dict(os.environ, SPARK_GRAFT_CPUS=str(cpus()),
                SPARK_GRAFT_LOCAL_DIR=os.path.join(target_dir(root), "scratch"))


def archive(jar):
    """The class-data archive of a build, and the options that keep the
    JVM's class-data sharing messages out of its output."""
    jsa = os.path.join(os.path.dirname(jar), "classes.jsa")
    return jsa, ("-Xlog:cds=off", "-Xlog:cds+dynamic=off")


def verified_path(jar):
    return os.path.join(os.path.dirname(jar), "verified.json")


def sources(root):
    files = []
    for d in SOURCES:
        files += glob.glob(os.path.join(root, d, "**", "*.scala"), recursive=True)
    return sorted(files)


def compile_jar(root, files, out, jar):
    tmp = os.path.join(out, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(spark_jars(), "*")
    cmd = (["java", "-Xmx2g", "-Xss8m", *jvm_local_files(root), "-cp", cp,
            "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", cp] + files)
    print(f"perfbench: compiling {len(files)} sources", file=sys.stderr, flush=True)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        shutil.rmtree(out, ignore_errors=True)
        sys.exit("perfbench: compilation failed")
    # one jar rather than a class directory: class-data sharing archives
    # classes from jars only
    with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_STORED) as z:
        for d, _, names in os.walk(tmp):
            for n in sorted(names):
                f = os.path.join(d, n)
                z.write(f, os.path.relpath(f, tmp))
    os.replace(jar + ".tmp", jar)
    shutil.rmtree(tmp, ignore_errors=True)


def train(root, jar):
    """Run perfbench.Train (dumping the class-data archive), compare its
    outputs with the DuckDB oracle and write verified.json last."""
    import oracle
    work = os.path.join(os.path.dirname(jar), "train")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    jsa, opts = archive(jar)
    if os.path.exists(jsa):
        os.remove(jsa)
    record = os.path.join(work, "record.json")
    cmd = java(root, jar, "perfbench.Train", DATA, os.path.join(work, "work"),
               os.path.join(work, "out"), record,
               opts=(f"-XX:ArchiveClassesAtExit={jsa}", *opts))
    print("perfbench: training run", file=sys.stderr, flush=True)
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as fh:
        try:
            rc = subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT,
                                env=jvm_env(root), timeout=TRAIN_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            rc = "timeout"
    if rc != 0 or not os.path.exists(record) or not os.path.exists(jsa):
        sys.stderr.write(open(log).read()[-6000:])
        sys.exit(f"perfbench: the training run failed ({rc}); log {log}")
    rec = json.load(open(record))
    mismatches = oracle.check(root, DATA, work, rec["oracle_sql"], threads=cpus())
    verified = {
        "failures": rec["failures"],
        "outputs": {kind: {"digest": d, "oracle": mismatches.get(kind)}
                    for kind, d in rec["digests"].items()},
    }
    with open(verified_path(jar) + ".tmp", "w") as fh:
        json.dump(verified, fh, indent=1, sort_keys=True)
    os.replace(verified_path(jar) + ".tmp", verified_path(jar))
    shutil.rmtree(work, ignore_errors=True)


def build(root):
    """Compile and train if needed; return the jar of the classes."""
    files = sources(root)
    if not any(f.startswith(os.path.join(root, "src", "")) for f in files):
        sys.exit("perfbench: the repo's Scala sources (src/main/scala) are missing")
    h = hashlib.sha256(spark_jars().encode())
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(target_dir(root), "perfbench", h.hexdigest()[:16])
    jar = os.path.join(out, "perfbench.jar")
    if not os.path.exists(jar):
        compile_jar(root, files, out, jar)
    if not os.path.exists(verified_path(jar)):
        train(root, jar)
    return jar


if __name__ == "__main__":
    print(build(os.getcwd()))
