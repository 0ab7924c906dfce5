"""Build step of perfbench: compiles the program (src/main/scala) and the
harness (perfbench/harness) with the Scala compiler that ships in the
Spark distribution, into .bench_build/perfbench/<source hash>/.

A build is reused only when every source file, the Spark jar list and
the JDK are byte-identical, so a checkout of another commit rebuilds.
Usage: python3 perfbench/build.py   (prints the runtime classpath)
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def _sources(root, sub):
    out = []
    for dp, _, fs in os.walk(os.path.join(root, sub)):
        out += [os.path.join(dp, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def _java_version():
    r = subprocess.run(["java", "-version"], capture_output=True, text=True)
    return (r.stderr or r.stdout).strip()


def _scalac(jars, cp, dest, srcs, log):
    os.makedirs(dest)
    argfile = dest + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", dest]
    if cp:
        cmd += ["-classpath", cp]
    r = subprocess.run(cmd + ["@" + argfile], stdout=log, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: compile failed, see {log.name}")


def spark_jars():
    """The Spark distribution's jar dir (Spark, Scala compiler and library),
    found through SPARK_HOME as spark-submit finds it."""
    home = os.environ.get("SPARK_HOME")
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise SystemExit("perfbench: SPARK_HOME must name a Spark distribution")
    return os.path.join(home, "jars")


def build(root):
    """Returns the runtime classpath, compiling first if needed."""
    main_dir = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(main_dir):
        raise SystemExit(f"perfbench: no program sources at {main_dir}")
    jars = spark_jars()
    app = _sources(root, "src/main/scala")
    harness = _sources(HERE, "harness")
    h = hashlib.sha256()
    for path in app + harness:
        h.update(os.path.relpath(path, root).encode() + b"\0")
        with open(path, "rb") as f:
            h.update(f.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    h.update(_java_version().encode())
    base = os.path.join(root, ".bench_build", "perfbench")
    out = os.path.join(base, h.hexdigest()[:20])
    resources = os.path.join(root, "src", "main", "resources")
    cp = [os.path.join(out, "harness"), os.path.join(out, "app")]
    if os.path.isdir(resources):
        cp.append(resources)
    cp.append(os.path.join(jars, "*"))
    if os.path.exists(os.path.join(out, "OK")):
        return os.pathsep.join(cp)
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    with open(os.path.join(tmp, "build.log"), "w") as log:
        _scalac(jars, None, os.path.join(tmp, "app"), app, log)
        _scalac(jars, os.path.join(tmp, "app"), os.path.join(tmp, "harness"), harness, log)
    open(os.path.join(tmp, "OK"), "w").close()
    if os.path.exists(os.path.join(out, "OK")):
        shutil.rmtree(tmp)  # another run finished the same build first
    else:
        shutil.rmtree(out, ignore_errors=True)
        os.rename(tmp, out)
    return os.pathsep.join(cp)


if __name__ == "__main__":
    print(build(os.getcwd()))
    sys.exit(0)
