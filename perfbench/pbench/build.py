"""Builds the program and the harness from source with the Scala compiler
that ships in Spark's jar directory; `build.sbt` is not involved.

Output goes to `.bench_build/perfbench-<key>/` in the checkout, where the
key hashes every source and resource file, so a changed source gets a
fresh build and an unchanged one is reused across runs."""
import glob
import hashlib
import os
import shutil
import subprocess
import sys


def spark_jars():
    home = os.environ.get("SPARK_HOME", "/opt/spark")
    return os.path.join(home, "jars")


def _files(root, rel, suffixes=None):
    out = []
    for dirpath, _, names in os.walk(os.path.join(root, rel)):
        for n in names:
            if suffixes is None or n.endswith(suffixes):
                out.append(os.path.join(dirpath, n))
    return sorted(out)


def source_key(root):
    h = hashlib.sha256()
    for rel in ("src/main", "perfbench/scala"):
        for p in _files(root, rel):
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def _scalac(classpath, out_dir, sources, log):
    jars = spark_jars()
    compiler = ":".join(
        glob.glob(os.path.join(jars, f"scala-{n}-2.13*.jar"))[0]
        for n in ("compiler", "library", "reflect"))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", compiler,
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp",
           "-classpath", classpath, "-d", out_dir] + sources
    with open(log, "ab") as lf:
        r = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        raise RuntimeError(f"scalac failed (exit {r.returncode}); see {log}")


def ensure(root):
    """Returns the build directory, compiling first if needed. Its
    classpath is `<dir>/classes:<dir>/harness:<spark jars>/*`."""
    src = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(src):
        raise RuntimeError(f"no program sources at {src}")
    base = os.path.join(root, ".bench_build")
    out = os.path.join(base, "perfbench-" + source_key(root))
    if os.path.exists(os.path.join(out, "ok")):
        return out
    os.makedirs(base, exist_ok=True)
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    classes, harness = os.path.join(tmp, "classes"), os.path.join(tmp, "harness")
    os.makedirs(classes)
    os.makedirs(harness)
    log = os.path.join(tmp, "build.log")
    print(f"[perfbench] building {os.path.basename(out)}", file=sys.stderr)
    jars = os.path.join(spark_jars(), "*")
    _scalac(jars, classes, _files(root, "src/main/scala", ".scala"), log)
    resources = os.path.join(root, "src", "main", "resources")
    if os.path.isdir(resources):
        shutil.copytree(resources, classes, dirs_exist_ok=True)
    _scalac(classes + ":" + jars, harness,
            _files(root, "perfbench/scala", ".scala"), log)
    open(os.path.join(tmp, "ok"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


def classpath(build_dir):
    return ":".join([os.path.join(build_dir, "classes"),
                     os.path.join(build_dir, "harness"),
                     os.path.join(spark_jars(), "*")])
