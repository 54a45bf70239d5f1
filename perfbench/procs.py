"""Process control, the sbt build and the JVM command line for the benchmark.

Every process started here is tracked, and `stop_all` (which run.py calls on
every exit path) terminates and reaps whatever is still running.
"""
import hashlib
import os
import shutil
import signal
import subprocess

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build")

CPUS = 4            # local[N] of every program JVM; never derived from the box
HEAP = "3g"         # fixed -Xms/-Xmx of every program JVM
JDK_OPENS = [       # what spark-submit would add on JDK 17 (see the root build.sbt)
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]

_children = []


class BenchError(Exception):
    """A failure that ends the run with a one-line reason on stderr."""


def log_tail(path, n=5):
    try:
        with open(path, errors="replace") as f:
            lines = [l.strip() for l in f if l.strip()]
        return " | ".join(lines[-n:])[-600:]
    except OSError:
        return "(no log)"


def start(cmd, log_path, env=None, cwd=ROOT):
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, env=env, start_new_session=True)
    _children.append(p)
    return p


def stop(p, grace=15.0):
    """SIGTERM the process group, SIGKILL it after `grace` seconds, and reap."""
    if p.poll() is None:
        try:
            os.killpg(p.pid, signal.SIGTERM)
        except ProcessLookupError:
            pass
        try:
            p.wait(grace)
        except subprocess.TimeoutExpired:
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            p.wait()
    if p in _children:
        _children.remove(p)


def stop_all():
    for p in list(_children):
        stop(p)


def run_to_end(cmd, log_path, timeout, what, env=None, cwd=ROOT):
    p = start(cmd, log_path, env, cwd)
    try:
        rc = p.wait(timeout)
    except subprocess.TimeoutExpired:
        stop(p)
        raise BenchError(f"{what} did not finish within {timeout:.0f}s; log: {log_tail(log_path)}")
    _children.remove(p)
    if rc != 0:
        raise BenchError(f"{what} exited with {rc}; log: {log_tail(log_path)}")


def tree_hash(paths):
    """Digest of the names and contents of every file under `paths`."""
    h = hashlib.sha256()
    for base in paths:
        files = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, n) for d, _, names in os.walk(base) for n in names)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile the program and the harness once per source state; return the classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise BenchError(f"program sources not found: {need} is missing at the checkout root")
    for tool in ("sbt", "java"):
        if shutil.which(tool) is None:
            raise BenchError(f"{tool} is not on PATH")
    harness = os.path.join(HERE, "harness")
    stamp = tree_hash([os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
                       os.path.join(ROOT, "src", "main"), os.path.join(harness, "build.sbt"),
                       os.path.join(harness, "project", "build.properties"),
                       os.path.join(harness, "src")])
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp_file = os.path.join(WORK, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:  # the repository's own test command uses the same default
        repos = os.path.expanduser("~/.sbt/repositories")
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           if os.path.exists(repos) else "") + "-Dsbt.offline=true"
    elif "-Dsbt.offline" not in env["SBT_OPTS"]:
        env["SBT_OPTS"] += " -Dsbt.offline=true"
    log = os.path.join(WORK, "logs", "build.log")
    run_to_end(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                "export Runtime/fullClasspath"], log, 780, "sbt build", env, cwd=harness)
    with open(log) as f:
        cps = [l.strip() for l in f if os.pathsep in l and not l.startswith("[")]
    if not cps:
        raise BenchError(f"sbt printed no classpath; log: {log_tail(log)}")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


def jvm_env():
    """The caller's environment without program tuning variables, at CPUS cores."""
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_GRAFT_CPUS"] = str(CPUS)
    return env


def java(cp, main, args, tmp, props=()):
    """The command line of a program JVM; `props` are extra `-D` settings."""
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return ["java", *opens, f"-Xms{HEAP}", f"-Xmx{HEAP}",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
            *(f"-D{p}" for p in props), "-cp", cp, main, *map(str, args)]


def peak_rss_mb(pid):
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise BenchError(f"VmHWM missing for process {pid}")
