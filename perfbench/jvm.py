"""Building graft from source and starting its JVMs.

The build is the benchmark's own sbt project (perfbench/build.sbt),
which compiles the repository's src/main/scala together with the
harness. It runs only when a source file changed since the last build
in this checkout, and always offline.
"""
import atexit
import hashlib
import os
import shutil
import signal
import socket
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
GRAFT_SRC = os.path.join(ROOT, "src", "main", "scala")

# Spark 4 on JDK 17 needs these when started outside spark-submit; the
# same list as the root build.sbt's javaOptions.
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _source_files():
    for base in (GRAFT_SRC, os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            for f in sorted(files):
                yield os.path.join(d, f)
    yield os.path.join(HERE, "build.sbt")
    yield os.path.join(HERE, "project", "build.properties")


def classpath():
    """Build if any source changed; return the runtime classpath."""
    if not os.path.isdir(os.path.join(GRAFT_SRC, "graft")):
        raise SystemExit("perfbench: graft sources not found next to perfbench/; "
                         "run from the root of a graft checkout")
    h = hashlib.sha256()
    for p in sorted(_source_files()):
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    build = os.path.join(WORK, "build")
    cp_file, stamp_file = os.path.join(build, "classpath"), os.path.join(build, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp and os.path.exists(cp_file):
        return open(cp_file).read().strip()
    os.makedirs(build, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS="-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
    log("building graft and the harness with sbt (offline)")
    t0 = time.monotonic()
    with open(os.path.join(build, "sbt.log"), "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
                            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=850).returncode
    lines = open(os.path.join(build, "sbt.log")).read().splitlines()
    cp = next((l for l in reversed(lines) if "scala-2.13/classes" in l and not l.startswith("[")), None)
    if rc != 0 or cp is None:
        raise SystemExit(f"perfbench: sbt build failed (exit {rc}); see {build}/sbt.log")
    log(f"build took {time.monotonic() - t0:.0f}s")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def free_port():
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


_live = set()


def stop_all_on_exit():
    """Kill every JVM still running when the benchmark exits, also on
    SIGTERM, so no server outlives a failed or interrupted run."""
    def kill_all():
        for j in list(_live):
            j.kill()
    atexit.register(kill_all)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))


class Jvm:
    """One JVM started from the benchmark classpath, with its temp and
    Spark local dirs, logs and heap-probe handshake inside `workdir`."""

    def __init__(self, cp, main, args, workdir, heap="2g"):
        self.workdir = workdir
        tmp = os.path.join(workdir, "tmp")
        os.makedirs(tmp, exist_ok=True)
        self.err = open(os.path.join(workdir, "jvm.log"), "w")
        cmd = ["java", *ADD_OPENS, f"-Xmx{heap}", "-XX:-UsePerfData",
               f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
               f"-Dperfbench.probe.dir={workdir}", "-cp", cp, main, *args]
        self.t_launch = time.monotonic()
        self.proc = subprocess.Popen(cmd, cwd=workdir, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                                     stderr=self.err, text=True, bufsize=1)
        _live.add(self)

    def heap_live_mb(self, timeout=60):
        out = os.path.join(self.workdir, "heap.mb")
        if os.path.exists(out):
            os.remove(out)
        open(os.path.join(self.workdir, "heap.req"), "w").close()
        deadline = time.monotonic() + timeout
        while not os.path.exists(out):
            if time.monotonic() > deadline or self.proc.poll() is not None:
                raise RuntimeError("heap probe did not answer")
            time.sleep(0.05)
        return float(open(out).read())

    def kill(self):
        """End a process whose work is done (a set-up probe) at once."""
        if self.proc.poll() is None:
            self.proc.kill()
            self.stop(grace=0)

    def stop(self, grace=60):
        """Close stdin (which ends the traced server and the ops harness),
        wait `grace` seconds, then SIGTERM, then SIGKILL; always waits
        for the process to end."""
        try:
            if self.proc.stdin and not self.proc.stdin.closed:
                self.proc.stdin.close()
            self.proc.wait(timeout=grace)
        except (subprocess.TimeoutExpired, BrokenPipeError, OSError):
            pass
        for sig in (signal.SIGTERM, signal.SIGKILL):
            if self.proc.poll() is not None:
                break
            self.proc.send_signal(sig)
            try:
                self.proc.wait(timeout=20)
            except subprocess.TimeoutExpired:
                pass
        self.proc.wait()
        _live.discard(self)
        if self.proc.stdout:
            self.proc.stdout.close()
        self.err.close()
        return self.proc.returncode


def dag_dirs_bytes(workdir):
    """Bytes under the graft-dag* work dirs a JVM left in its tmp dir."""
    total = 0
    tmp = os.path.join(workdir, "tmp")
    for d in os.listdir(tmp):
        if d.startswith("graft-dag"):
            for base, _, files in os.walk(os.path.join(tmp, d)):
                total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total


def fresh_dir(path):
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path
