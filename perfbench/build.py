#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft's main sources and the
benchmark's Scala sources with the Scala compiler that ships among the
Spark jars graft builds against (the `unmanagedBase` of the root
build.sbt, or $SPARK_HOME/jars). Nothing is fetched.

Outputs go under the build directory ($CARGO_TARGET_DIR if set, else
.bench_build at the repository root); each part is rebuilt only when a
hash of its sources changes.

    python3 perfbench/build.py        # build, print the classpath
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
GRAFT_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")


class BuildError(Exception):
    pass


def build_dir():
    return os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or os.path.join(ROOT, ".bench_build"))


def jars_dir():
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        with open(sbt) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    raise BuildError("no Spark jars: neither build.sbt's unmanagedBase nor $SPARK_HOME/jars exists")


def sources(root):
    files = sorted(glob.glob(os.path.join(root, "**", "*.scala"), recursive=True))
    if not files:
        raise BuildError(f"no Scala sources under {os.path.relpath(root, ROOT)}")
    return files


def stamp(files, extra):
    h = hashlib.sha256(extra.encode())
    for p in files:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def compile_part(name, files, classpath, extra_stamp):
    out = os.path.join(build_dir(), name)
    key = stamp(files, extra_stamp + "\0" + os.pathsep.join(classpath))
    stamp_file = os.path.join(build_dir(), name + ".stamp")
    if os.path.isdir(out) and os.path.isfile(stamp_file) and open(stamp_file).read() == key:
        return out, key
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = os.path.join(build_dir(), name + ".args")
    with open(args_file, "w") as f:
        f.write("\n".join(files))
    cp = os.pathsep.join(classpath)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(jars_dir(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp]
    if cp:
        cmd += ["-cp", cp]
    print(f"perfbench: compiling {name} ({len(files)} files)", file=sys.stderr, flush=True)
    r = subprocess.run(cmd + ["@" + args_file], stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise BuildError(f"scalac failed on {name} (exit {r.returncode})")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    with open(stamp_file, "w") as f:
        f.write(key)
    return out, key


def ensure_built():
    """Compile what changed; return the runtime classpath (list)."""
    jars = jars_dir()
    jar_names = ",".join(sorted(os.listdir(jars)))
    os.makedirs(build_dir(), exist_ok=True)
    graft, graft_key = compile_part("graft-classes", sources(GRAFT_SRC), [], jar_names)
    bench, _ = compile_part("perfbench-classes", sources(BENCH_SRC), [graft], graft_key)
    resources = os.path.join(ROOT, "src", "main", "resources")
    return [bench, graft] + ([resources] if os.path.isdir(resources) else []) + [os.path.join(jars, "*")]


if __name__ == "__main__":
    try:
        print(os.pathsep.join(ensure_built()))
    except BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        sys.exit(2)
