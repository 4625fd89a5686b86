"""Builds graft and the benchmark from source with the Scala compiler that
ships in Spark's jars; no sbt and no downloads.

Output goes to ``.bench_build/graftbench`` under the checkout root:
``graft/`` (graft's main classes and resources) and ``bench/`` (this
package). Each has a stamp of its sources' content, so a part whose
sources did not change is not compiled again.

Usage: python3 graftbench/build.py    (from the checkout root)
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def _spark_jars():
    """Spark's jars: $SPARK_HOME/jars, else the jars beside a spark-submit on PATH."""
    homes = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(d) for d in os.get_exec_path()
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if os.path.isdir(jars):
            return jars
    raise SystemExit("graftbench: no Spark jars found; set SPARK_HOME")


SPARK_JARS = _spark_jars()


def _sources(d, exts=(".scala",)):
    out = []
    for base, _, files in os.walk(d):
        out += [os.path.join(base, f) for f in files if f.endswith(exts)]
    return sorted(out)


def _scalac(out, classpath, files):
    os.makedirs(out)
    argfile = out + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(files))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(SPARK_JARS, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp", "-d", out,
           "-classpath", classpath, "@" + argfile]
    subprocess.run(cmd, check=True, stdout=sys.stderr)
    os.remove(argfile)


def _stamp(root, files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _fresh(out, stamp):
    """True when `out` was built from sources with this stamp."""
    f = out + ".stamp"
    if os.path.exists(f) and open(f).read() == stamp:
        return True
    shutil.rmtree(out, ignore_errors=True)
    return False


def build(root):
    """Compiles what changed; returns the JVM classpath."""
    main_src = os.path.join(root, "src", "main")
    scala_src = os.path.join(main_src, "scala")
    if not os.path.isdir(scala_src):
        raise SystemExit("graftbench: no graft sources at %s" % scala_src)
    out = os.path.join(root, ".bench_build", "graftbench")
    graft_out, bench_out = os.path.join(out, "graft"), os.path.join(out, "bench")
    resources = os.path.join(main_src, "resources")
    spark_cp = os.path.join(SPARK_JARS, "*")
    graft_files = _sources(scala_src)
    graft_stamp = _stamp(root, graft_files + _sources(resources, ("",)))
    if not _fresh(graft_out, graft_stamp):
        _scalac(graft_out, spark_cp, graft_files)
        if os.path.isdir(resources):
            shutil.copytree(resources, graft_out, dirs_exist_ok=True)
        with open(graft_out + ".stamp", "w") as f:
            f.write(graft_stamp)
    bench_files = _sources(os.path.join(HERE, "src"))
    # graft's stamp is part of the bench's: a graft rebuild forces one here
    bench_stamp = graft_stamp + _stamp(root, bench_files)
    if not _fresh(bench_out, bench_stamp):
        _scalac(bench_out, os.pathsep.join([graft_out, spark_cp]), bench_files)
        with open(bench_out + ".stamp", "w") as f:
            f.write(bench_stamp)
    return os.pathsep.join([bench_out, graft_out, spark_cp])


if __name__ == "__main__":
    print(build(os.getcwd()))
