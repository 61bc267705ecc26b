"""Build file of the benchmark: compiles the engine's sources and the
benchmark harness with the Scala compiler that ships in Spark's jars.

    python3 perfbench/build.py        # from the repository root

Outputs go to `.bench_build/` (or `$CARGO_TARGET_DIR` when set), keyed by a
hash of the sources, so an unchanged tree is not compiled twice. Prints the
runtime class path.
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
COMPILE_TIMEOUT_S = 840


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit("perfbench: no Spark jars with a Scala compiler found; set SPARK_HOME")
    return jars


def sources(root):
    return sorted(glob.glob(os.path.join(root, "**", "*.scala"), recursive=True))


def digest(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def compile_to(out, files, classpath, jars):
    """Compile `files` into `out` unless a finished build is already there."""
    if os.path.exists(os.path.join(out, ".done")):
        return
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", os.pathsep.join(classpath + [os.path.join(jars, "*")])] + files
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                         timeout=COMPILE_TIMEOUT_S)
    if res.returncode != 0:
        sys.stderr.write(res.stdout.decode(errors="replace")[-4000:])
        raise SystemExit(f"perfbench: compile failed ({len(files)} files)")
    open(os.path.join(tmp, ".done"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)


def build(repo_root):
    """Compile the engine and the harness; return the runtime class path."""
    main_src = os.path.join(repo_root, "src", "main", "scala")
    main_files = sources(main_src)
    if not main_files:
        raise SystemExit(f"perfbench: no engine sources under {main_src}")
    jars = spark_jars()
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR")
                                or os.path.join(repo_root, ".bench_build"))
    main_out = os.path.join(build_dir, "main-" + digest(main_files))
    compile_to(main_out, main_files, [], jars)
    bench_files = sources(os.path.join(HERE, "scala"))
    bench_out = os.path.join(build_dir, "bench-" + digest(bench_files, main_out))
    compile_to(bench_out, bench_files, [main_out], jars)
    return [bench_out, main_out, os.path.join(jars, "*")]


if __name__ == "__main__":
    print(os.pathsep.join(build(os.getcwd())))
