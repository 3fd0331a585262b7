#!/usr/bin/env python3
"""Build file of the benchmark harness: compiles the engine (`src/main`) and
this package (`perfbench/harness/src`) with the Scala compiler shipped in
the Spark jar directory that the repo's `build.sbt` names. Each is compiled
once per hash of its sources into the build directory.

    python3 perfbench/harness/build.py [build_dir]

prints the classpath (harness, engine, Spark jars) to run `perfbench.Harness`.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars(root):
    """The Spark jar directory the repo's own build names."""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                  open(os.path.join(root, "build.sbt")).read())
    cands = [m.group(1)] if m else []
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    for c in cands:
        if glob.glob(os.path.join(c, "scala-compiler-*.jar")):
            return c
    fail("no Spark jar directory with a Scala compiler found")


def tree_hash(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def scalac(jars, out, classpath, sources, log):
    os.makedirs(out, exist_ok=True)
    cp = os.path.join(jars, "*")
    argfile = out + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(sources))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g",
           f"-Djava.io.tmpdir={os.path.dirname(out)}", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", ":".join([cp] + classpath),
           "@" + argfile]
    with open(log, "w") as lf:
        r = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        fail(f"compile failed, see {log}")


def build(root, bdir, jars):
    """Compile the engine and the harness (each once per source hash)."""
    main_src = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"),
                                recursive=True))
    res = os.path.join(root, "src/main/resources")
    res_files = sorted(p for p in glob.glob(os.path.join(res, "**/*"), recursive=True)
                       if os.path.isfile(p))
    h_src = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    if not main_src or not h_src:
        fail("engine or harness sources missing: run from a checkout root")
    main_id = tree_hash(main_src + res_files)
    main_out = os.path.join(bdir, f"engine-{main_id}")
    if not os.path.exists(main_out + ".ok"):
        shutil.rmtree(main_out, ignore_errors=True)
        scalac(jars, main_out, [], main_src, main_out + ".log")
        for p in res_files:
            dst = os.path.join(main_out, os.path.relpath(p, res))
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copy(p, dst)
        open(main_out + ".ok", "w").close()
    h_out = os.path.join(bdir, f"harness-{tree_hash(h_src)}-{main_id}")
    if not os.path.exists(h_out + ".ok"):
        shutil.rmtree(h_out, ignore_errors=True)
        scalac(jars, h_out, [main_out], h_src, h_out + ".log")
        open(h_out + ".ok", "w").close()
    return [h_out, main_out, os.path.join(jars, "*")]


if __name__ == "__main__":
    root = os.getcwd()
    bdir = os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else ".bench_build")
    os.makedirs(bdir, exist_ok=True)
    print(":".join(build(root, bdir, spark_jars(root))))
