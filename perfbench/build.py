"""Build file of the benchmark package: compiles the program from source and
the benchmark against it, with the Scala compiler that ships with the Spark
jars the program's build names.

It reads the Scala version and the jar directory from the program's
`build.sbt` (`scalaVersion`, `unmanagedBase`), compiles `src/main/scala`
into `.bench_build/program` and `perfbench/src` into `.bench_build/bench`,
and skips both when no input changed since the last build. Run it alone
with `python3 perfbench/build.py` from the repository root.
"""

import hashlib
import os
import re
import subprocess
import sys

BUILD_DIR = ".bench_build"


class BuildError(Exception):
    pass


def _files(top, suffixes):
    out = []
    for d, _, names in os.walk(top):
        out += [os.path.join(d, n) for n in names if n.endswith(suffixes)]
    return sorted(out)


def _setting(build_sbt, pattern, what):
    m = re.search(pattern, build_sbt)
    if not m:
        raise BuildError("build.sbt names no %s" % what)
    return m.group(1)


def _scalac(jars, classpath, out, sources, log):
    os.makedirs(out, exist_ok=True)
    args_file = out + ".sources"
    with open(args_file, "w") as f:
        f.write("\n".join(sources) + "\n")
    cmd = ["java", "-Xss4m", "-Xmx1536m", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", out, "-classpath", classpath,
           "@" + args_file]
    with open(log, "a") as lf:
        if subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT).returncode != 0:
            raise BuildError("compile of %s failed, see %s" % (out, log))


def build(root="."):
    """Compiles what changed; returns the runtime classpath entries."""
    program_src = os.path.join(root, "src", "main", "scala")
    bench_src = os.path.join(root, "perfbench", "src")
    sbt = os.path.join(root, "build.sbt")
    if not (os.path.isdir(program_src) and os.path.isfile(sbt)):
        raise BuildError("no program sources (src/main/scala, build.sbt) under %s"
                         % os.path.abspath(root))
    with open(sbt) as f:
        build_sbt = f.read()
    version = _setting(build_sbt, r'scalaVersion\s*:=\s*"([^"]+)"', "scalaVersion")
    jars = _setting(build_sbt, r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', "unmanagedBase")
    if not os.path.isfile(os.path.join(jars, "scala-compiler-%s.jar" % version)):
        raise BuildError("no scala-compiler-%s.jar in %s" % (version, jars))

    resources = os.path.join(root, "src", "main", "resources")
    program_files = _files(program_src, (".scala", ".java"))
    bench_files = _files(bench_src, (".scala",))
    digest = hashlib.sha256(build_sbt.encode())
    for p in program_files + bench_files + _files(resources, ("",)):
        digest.update(p.encode())
        with open(p, "rb") as f:
            digest.update(f.read())
    stamp = digest.hexdigest()

    out = os.path.join(root, BUILD_DIR)
    program_out, bench_out = os.path.join(out, "program"), os.path.join(out, "bench")
    stamp_file = os.path.join(out, "stamp")
    classpath = [program_out, bench_out, resources, os.path.join(jars, "*")]
    if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return classpath
    os.makedirs(out, exist_ok=True)
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    for d in (program_out, bench_out):
        subprocess.run(["rm", "-rf", d], check=True)
    log = os.path.join(out, "build.log")
    _scalac(jars, os.path.join(jars, "*"), program_out, program_files, log)
    _scalac(jars, program_out + os.pathsep + os.path.join(jars, "*"), bench_out,
            bench_files, log)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath


if __name__ == "__main__":
    try:
        print(os.pathsep.join(build()))
    except BuildError as e:
        print("build failed: %s" % e, file=sys.stderr)
        sys.exit(2)
