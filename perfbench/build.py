"""Build step of the benchmark: compiles the program's sources
(`src/main/scala`) together with the benchmark harness (`perfbench/scala`)
with the Scala compiler that ships among the Spark jars.

The classes land in `<build dir>/classes-<hash of sources>`, where the
build dir is `$CARGO_TARGET_DIR` when set and `.bench_build` otherwise, so
a checkout compiles once and later runs reuse the classes.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

SCALAC_OPTS = ["-nowarn"]


def jars_dir(root):
    """The Spark jars directory: `$SPARK_HOME/jars`, else the
    `unmanagedBase` that the repo's build.sbt names."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        with open(os.path.join(root, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    except OSError:
        pass
    raise SystemExit("perfbench: no Spark jars found (set SPARK_HOME)")


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    bench = sorted(glob.glob(os.path.join(root, "perfbench", "scala", "*.scala")))
    return main + bench


def build(root):
    srcs = sources(root)
    if not any("/src/main/scala/" in s for s in srcs):
        raise SystemExit("perfbench: no program sources under src/main/scala")
    h = hashlib.sha256(" ".join(SCALAC_OPTS).encode())
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    out_root = os.path.join(root, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    classes = os.path.join(out_root, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(classes):
        return classes
    os.makedirs(out_root, exist_ok=True)
    tmp = classes + ".tmp%d" % os.getpid()
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = tmp + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join('"%s"' % s for s in srcs))
    cp = os.path.join(jars_dir(root), "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           *SCALAC_OPTS, "-d", tmp, "-classpath", cp, "@" + argfile]
    print("perfbench: compiling %d sources" % len(srcs), file=sys.stderr, flush=True)
    rc = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr).returncode
    os.remove(argfile)
    if rc != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit("perfbench: compilation failed (exit %d)" % rc)
    os.rename(tmp, classes)
    return classes
