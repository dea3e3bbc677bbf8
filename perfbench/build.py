"""Build graft's main sources and the benchmark JVM driver with scalac.

Links against the Spark distribution's jars (which also ship the Scala
compiler), so no dependency resolution and no sbt start is needed.
Outputs go under the build directory (CARGO_TARGET_DIR when set, else
`.bench_build`); a content stamp skips rebuilding unchanged sources.

    python3 perfbench/build.py        # from the repository root
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise SystemExit("perfbench: no Spark distribution found (set SPARK_HOME)")
    return jars


def build_dir(root):
    return os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def sources(directory):
    return sorted(glob.glob(os.path.join(directory, "**", "*.scala"), recursive=True))


def stamp(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def scalac(jars, classpath, out, files):
    compiler = os.pathsep.join(
        glob.glob(os.path.join(jars, f"scala-{name}-2.13.*.jar"))[0]
        for name in ("compiler", "library", "reflect"))
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    argfile = out + ".args"
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", classpath, "-d", out, "@" + argfile]
    subprocess.run(cmd, check=True, stdout=sys.stderr)


def build(root):
    """Compile (when stale) and return the runtime classpath."""
    graft_src = os.path.join(root, "src", "main", "scala")
    graft_files = sources(graft_src)
    if not graft_files:
        raise SystemExit(f"perfbench: no graft sources under {graft_src}")
    jars = spark_jars()
    out = build_dir(root)
    os.makedirs(out, exist_ok=True)
    spark_cp = os.path.join(jars, "*")
    graft_out = os.path.join(out, "graft-classes")
    bench_out = os.path.join(out, "perfbench-classes")
    graft_stamp = stamp(graft_files, jars)
    bench_stamp = stamp(sources(os.path.join(HERE, "scala")), graft_stamp)
    for target, st, cp, files in (
            (graft_out, graft_stamp, spark_cp, graft_files),
            (bench_out, bench_stamp, os.pathsep.join([graft_out, spark_cp]),
             sources(os.path.join(HERE, "scala")))):
        stamp_file = target + ".stamp"
        current = open(stamp_file).read() if os.path.exists(stamp_file) else ""
        if current != st:
            scalac(jars, cp, target, files)
            with open(stamp_file, "w") as fh:
                fh.write(st)
    return os.pathsep.join([bench_out, graft_out, spark_cp])


if __name__ == "__main__":
    print(build(os.getcwd()))
