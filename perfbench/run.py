#!/usr/bin/env python3
"""Run one benchmark workload against the library built from this checkout.

    python3 perfbench/run.py --workload portal_reads --seed 1 --seconds 7 --trace 0

Compiles the library (src/main/scala) and the harness (perfbench/src) with
the Scala compiler shipped in $SPARK_HOME/jars, caching both under
.bench_build/perfbench keyed by a hash of their sources, then runs the
harness in one JVM. Everything the run writes stays under .bench_build/.
The harness prints the metrics by name and unit and, as its last line, one
JSON result object; this script passes its output through and exits with
its exit code. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
RUN_TIMEOUT_S = 170
HEAP = "3g"

# Spark 4 on JDK 17 outside spark-submit needs these (the build.sbt list)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """$SPARK_HOME/jars, else those of the first spark-submit on PATH that
    belongs to a full distribution (jars/ with the Scala compiler)."""
    def ok(home):
        return home and glob.glob(os.path.join(home, "jars", "scala-compiler-*.jar"))
    homes = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep) if os.path.isfile(os.path.join(d, "spark-submit"))]
    home = next((h for h in homes if ok(h)), None)
    if not home:
        fail("set SPARK_HOME to a Spark distribution whose jars/ holds scala-compiler")
    return os.path.join(home, "jars", "*")


def sources(*dirs):
    files = sorted(f for d in dirs for f in glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return files, h.hexdigest()[:16]


def compile_tree(name, files, key, classpath):
    out = os.path.join(BUILD, f"{name}-{key}")
    if os.path.isdir(out):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", spark_jars(), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", tmp]
    if classpath:
        cmd += ["-classpath", classpath]
    print(f"perfbench: compiling {name} ({len(files)} files)", file=sys.stderr)
    if subprocess.run(cmd + ["@" + argfile], cwd=ROOT).returncode != 0:
        fail(f"compiling {name} failed")
    os.remove(argfile)
    os.rename(tmp, out)
    for old in glob.glob(os.path.join(BUILD, f"{name}-*")):
        if old != out:
            shutil.rmtree(old, ignore_errors=True)
    return out


def build():
    lib_src = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(lib_src):
        fail(f"no library sources at {os.path.relpath(lib_src, ROOT)}")
    lib_files, lib_key = sources(lib_src)
    lib = compile_tree("lib", lib_files, lib_key, None)
    h_files, h_key = sources(os.path.join(HERE, "src"))
    harness = compile_tree("harness", h_files, hashlib.sha256((lib_key + h_key).encode()).hexdigest()[:16], lib)
    return [harness, lib]


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=7)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--fault", help="feed the checks a deliberately wrong answer (self-test)")
    ap.add_argument("--digest-only", action="store_true", help="print the input digest and exit")
    a = ap.parse_args()

    classes = build()
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join(classes + [spark_jars()]), "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--root", BUILD]
    if a.fault:
        cmd += ["--fault", a.fault]
    if a.digest_only:
        cmd += ["--digest-only"]
    proc = subprocess.Popen(cmd, cwd=ROOT)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 3)
    sys.exit(code)


if __name__ == "__main__":
    main()
