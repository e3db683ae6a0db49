"""Build file of the benchmark.

    python3 perfbench/build.py [build_dir]

1. Compiles the engine (`src/main/scala`) and the harness
   (`perfbench/src`) with the Scala compiler that ships with Spark and
   packs them, with the engine's resources, into `<build_dir>/bench.jar`.
2. Runs every workload once at tiny size in one JVM that records a
   class-data-sharing archive (`bench.jsa`), which later runs map
   instead of loading and verifying Spark's classes again (about 10 s
   less start-up per run on a 4-core box).

Both steps are skipped when the sources' content hash matches the last
successful build. Spark's jars are the ones the repository's sbt build
compiles against (`unmanagedBase` in build.sbt), or $SPARK_HOME/jars.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

ROOT = os.getcwd()
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
ENGINE_RESOURCES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(ROOT, "perfbench", "src")
HEAP = "3g"
OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def spark_jars() -> str:
    if "SPARK_HOME" in os.environ:
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            return re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read()).group(1)
    except (OSError, AttributeError):
        raise SystemExit("perfbench: no Spark jars: set SPARK_HOME") from None


def java_command(build_dir: str, work: str, archive_flag: str) -> list:
    """The JVM every run uses: fixed heap, the module opens Spark needs on
    JDK 17, a temp dir inside the run's work dir, the class-data archive."""
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", archive_flag,
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    for p in OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    jars = os.path.join(build_dir, "bench.jar") + os.pathsep + os.path.join(spark_jars(), "*")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    return cmd + ["-cp", jars, "graft.bench.Main"]


def archive(build_dir: str) -> str:
    return os.path.join(build_dir, "bench.jsa")


def _compile(build_dir: str, files: list) -> None:
    classes = os.path.join(build_dir, "classes.tmp")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    jars = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main", "-nowarn",
           "-d", classes, "-cp", jars] + files
    if subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr).returncode != 0:
        raise SystemExit("perfbench: compilation failed")
    with zipfile.ZipFile(os.path.join(build_dir, "bench.jar"), "w", zipfile.ZIP_STORED) as jar:
        for base in (classes, ENGINE_RESOURCES):
            for dirpath, _, names in os.walk(base):
                for n in sorted(names):
                    f = os.path.join(dirpath, n)
                    jar.write(f, os.path.relpath(f, base))
    shutil.rmtree(classes)


def _train(build_dir: str) -> None:
    import gen_data
    data = os.path.join(build_dir, "data", "train")
    gen_data.write(data, 0, 0.002)
    work = os.path.join(build_dir, "train")
    shutil.rmtree(work, ignore_errors=True)
    cmd = java_command(build_dir, work, f"-XX:ArchiveClassesAtExit={archive(build_dir)}")
    cmd += ["--workload", "train", "--seed", "0", "--seconds", "0", "--trace", "1",
            "--data", data, "--work", work, "--out", os.path.join(work, "train.json")]
    if subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr).returncode != 0:
        raise SystemExit("perfbench: the training run failed")
    shutil.rmtree(work, ignore_errors=True)


def build(build_dir: str) -> None:
    if not os.path.isdir(ENGINE_SRC) or not os.path.isdir(BENCH_SRC):
        raise SystemExit("perfbench: engine sources not found; run from the repository root")
    files = sorted(glob.glob(os.path.join(ENGINE_SRC, "**", "*.scala"), recursive=True) +
                   glob.glob(os.path.join(BENCH_SRC, "**", "*.scala"), recursive=True))
    h = hashlib.sha256()
    for f in files + sorted(glob.glob(os.path.join(ENGINE_RESOURCES, "**", "*"), recursive=True)):
        if os.path.isfile(f):
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    stamp = os.path.join(build_dir, "build.stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return
    os.makedirs(build_dir, exist_ok=True)
    for f in (stamp, archive(build_dir)):
        if os.path.exists(f):
            os.remove(f)
    _compile(build_dir, files)
    _train(build_dir)
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    build(sys.argv[1] if len(sys.argv) > 1 else os.path.join(ROOT, ".bench_build"))
