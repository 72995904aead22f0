"""Build the program and the benchmark's JVM side from source, and start
the JVM without sbt once it is built."""
import hashlib
import os
import subprocess
import sys

HEAP = "-Xmx3g"
# C1 only: a run lasts about a minute, and on 4 cores tiered C2 compilation
# (over a minute of compiler CPU per run) competes with the measured work
# without paying back; C1 alone gave equal or lower times, and steadier ones
JIT = "-XX:TieredStopAtLevel=1"


def _sources(root):
    """Every file whose change needs a rebuild."""
    out = []
    for top in ("build.sbt", "project", "src/main", "perfbench/build.sbt",
                "perfbench/project", "perfbench/src"):
        p = os.path.join(root, top)
        if os.path.isfile(p):
            out.append(p)
        for d, dirs, files in os.walk(p):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            out.extend(os.path.join(d, f) for f in sorted(files)
                       if f.endswith((".scala", ".sbt", ".java", ".properties")))
    return out


def stamp(root):
    h = hashlib.sha256()
    for f in _sources(root):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root, log_path, timeout_s):
    """Compile with sbt unless the sources match the last build."""
    bench = os.path.join(root, "perfbench")
    target = os.path.join(bench, "target")
    stamp_file = os.path.join(target, "perfbench.stamp")
    want = stamp(root)
    if (os.path.exists(os.path.join(target, "perfbench.classpath"))
            and os.path.exists(stamp_file) and open(stamp_file).read() == want):
        return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    with open(log_path, "w") as log:
        p = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "classpath"],
                           cwd=bench, env=env, stdout=log, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=timeout_s)
    if p.returncode != 0:
        sys.stderr.write(open(log_path).read()[-4000:])
        raise RuntimeError(f"build failed (exit {p.returncode}); log: {log_path}")
    with open(stamp_file, "w") as f:
        f.write(want)


def command(root, tmp_dir, args):
    target = os.path.join(root, "perfbench", "target")
    cp = open(os.path.join(target, "perfbench.classpath")).read().strip()
    opts = [o for o in open(os.path.join(target, "perfbench.javaopts")).read().split("\n")
            if o and not o.startswith("-Xmx")]
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    return ([java, HEAP, JIT, "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp_dir}"] + opts
            + ["-cp", cp, "perfbench.Main"] + args)


def run(cmd, env_extra, log_path, timeout_s):
    """Start the JVM, wait for it to end; kill it at the time limit."""
    env = dict(os.environ, **env_extra)
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, env=env, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return p.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, 9)
            p.wait()
            raise
