"""Compile the engine and the benchmark with the Scala compiler shipped in
Spark's jar directory, the one the engine's build.sbt compiles against.

The engine's sources (src/main/scala) and the benchmark's own
(perfbench/src/main) compile into one class directory under the work
directory, named by a hash of every source file, so a run after an
unchanged build starts at once. Test sources (perfbench/src/test) compile
into a second directory on top of it.
"""

import glob
import hashlib
import os
import re
import shutil
import subprocess

SCALAC_TIMEOUT_S = 600


def java():
    """The java launcher: $JAVA_HOME/bin/java when it exists, else the one
    on PATH."""
    home = os.environ.get("JAVA_HOME")
    exe = home and os.path.join(home, "bin", "java")
    return exe if exe and os.access(exe, os.X_OK) else "java"


def jvm_env():
    """Environment of every JVM the benchmark starts. Spark binds to the
    loopback address and names the host `localhost`, so a run does not
    depend on the machine's host name resolving.
    """
    env = dict(os.environ)
    env.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    env.setdefault("SPARK_LOCAL_HOSTNAME", "localhost")
    return env


def spark_jars(repo_root):
    """The jars the engine's own build compiles against: the directory
    build.sbt names as `unmanagedBase`, which also holds the Scala compiler.
    """
    sbt = os.path.join(repo_root, "build.sbt")
    m = os.path.isfile(sbt) and re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
    if not m:
        raise SystemExit(f"perfbench: no unmanagedBase jar directory in {sbt}")
    jars = sorted(glob.glob(os.path.join(m.group(1), "*.jar")))
    if not any(os.path.basename(j).startswith("scala-compiler") for j in jars):
        raise SystemExit(f"perfbench: no Scala compiler among the jars of {m.group(1)}")
    return jars


def _sources(*dirs):
    out = []
    for d in dirs:
        out += sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))
    return out


def _digest(files, extra):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def _compile(srcs, jars, classpath, out_dir, log_path):
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = tmp + ".args"
    with open(args_file, "w") as fh:
        fh.write("\n".join(srcs) + "\n")
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           "-cp", os.pathsep.join(jars), "scala.tools.nsc.Main", "-nowarn",
           "-d", tmp, "-classpath", os.pathsep.join(classpath), "@" + args_file]
    with open(log_path, "w") as log:
        try:
            rc = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, env=jvm_env(),
                                timeout=SCALAC_TIMEOUT_S).returncode
            why = f"exit {rc}"
        except subprocess.TimeoutExpired:
            rc, why = None, f"timed out after {SCALAC_TIMEOUT_S} s"
    os.remove(args_file)
    if rc != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        with open(log_path) as fh:
            tail = fh.read()[-4000:]
        raise SystemExit(f"perfbench: compile failed ({why}); log {log_path}\n{tail}")
    os.rename(tmp, out_dir)


def build(repo_root, work, with_tests=False):
    """Return the class path (list) of the compiled engine and benchmark,
    and whether this call compiled anything.
    """
    engine_src = os.path.join(repo_root, "src", "main", "scala")
    bench_src = os.path.join(repo_root, "perfbench", "src", "main")
    test_src = os.path.join(repo_root, "perfbench", "src", "test")
    if not glob.glob(os.path.join(engine_src, "graft", "**", "*.scala"), recursive=True):
        raise SystemExit(f"perfbench: engine sources not found under {engine_src}")
    jars = spark_jars(repo_root)
    os.makedirs(work, exist_ok=True)

    main_srcs = _sources(engine_src, bench_src)
    main_dir = os.path.join(work, "classes-" + _digest(main_srcs, "\n".join(jars)))
    compiled = not os.path.isdir(main_dir)
    if compiled:
        for old in glob.glob(os.path.join(work, "classes-*")):
            shutil.rmtree(old, ignore_errors=True)
        _compile(main_srcs, jars, jars, main_dir, os.path.join(work, "compile.log"))
    cp = [main_dir] + jars
    if with_tests:
        test_srcs = _sources(test_src)
        test_dir = os.path.join(work, "test-classes-" + _digest(test_srcs, main_dir))
        if not os.path.isdir(test_dir):
            compiled = True
            for old in glob.glob(os.path.join(work, "test-classes-*")):
                shutil.rmtree(old, ignore_errors=True)
            _compile(test_srcs, jars, cp, test_dir, os.path.join(work, "compile-test.log"))
        cp = [test_dir] + cp
    return cp, compiled
