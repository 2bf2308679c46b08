"""Build the harness against the engine of the checkout.

``perfbench/build.sbt`` depends on the checkout's own sbt build, so the engine
compiles with its own settings. The build runs sbt once per distinct source
tree: a stamp holding the hash of every source and build file is kept beside
the classes, and a run whose hash matches the stamp starts the JVM straight
from the recorded classpath.
"""

import hashlib
import os
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH_DIR)
BUILD_DIR = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main")


def _source_hash() -> str:
    h = hashlib.sha256()
    trees = [os.path.join(BENCH_DIR, "src"), os.path.join(BENCH_DIR, "project"), ENGINE_SRC,
             os.path.join(ROOT, "project")]
    files = [os.path.join(BENCH_DIR, "build.sbt"), os.path.join(ROOT, "build.sbt")]
    for tree in trees:
        for d, dirs, fs in os.walk(tree):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def _sbt_env() -> dict:
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def classpath() -> str:
    """Compile if the sources changed since the last build; return the
    runtime classpath. Raises RuntimeError when the build fails."""
    if not os.path.isdir(ENGINE_SRC):
        raise RuntimeError(f"no engine sources at {ENGINE_SRC}")
    stamp = os.path.join(BUILD_DIR, "stamp")
    cp_file = os.path.join(BUILD_DIR, "classpath")
    digest = _source_hash()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read() == digest:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(BUILD_DIR, exist_ok=True)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=BENCH_DIR, env=_sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=850)
    lines = [ln for ln in proc.stdout.splitlines() if ln and not ln.startswith("[")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        raise RuntimeError(f"sbt build failed with exit code {proc.returncode}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(digest)
    return cp
