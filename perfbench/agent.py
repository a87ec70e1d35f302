"""Builds the engine plus the benchmark's JVM agent from source and runs
the agent as a child process that speaks a line protocol (see
jvm/src/main/scala/perfbench/Agent.scala)."""
import base64
import hashlib
import json
import os
import queue
import shutil
import subprocess
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD_DIR = ROOT / ".bench_build" / "perfbench"
JVM_DIR = HERE / "jvm"
BUILD_TIMEOUT_S = 850
REPLY_TIMEOUT_S = 170
# The engine's heap, -Xms = -Xmx. The build file's 16g exceeds small
# hosts; sf0.1 peaks near 1 GB of live heap.
HEAP = "2g"


class BenchError(Exception):
    """The benchmark cannot run here (missing sources, failed build, ...)."""


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def require_sources():
    for rel in ("build.sbt", "src/main/scala", "tools/check.py"):
        if not (ROOT / rel).exists():
            raise BenchError(f"missing {rel}: run from a full checkout of the repository")


def source_stamp():
    """Hash of every input of the build, so a checkout builds once."""
    h = hashlib.sha256()
    inputs = [ROOT / "build.sbt"]
    for base in (ROOT / "project", ROOT / "src" / "main", JVM_DIR):
        inputs += [p for p in sorted(base.rglob("*"))
                   if p.is_file() and "target" not in p.relative_to(base).parts[:-1]
                   and p.suffix in (".scala", ".sbt", ".properties", ".java")]
    for p in inputs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile the engine and the agent with sbt (offline) unless this
    checkout's sources were already built. Returns (jvm options, classpath)."""
    BUILD_DIR.mkdir(parents=True, exist_ok=True)
    stamp = source_stamp()
    launch = BUILD_DIR / "launch.txt"
    stamp_file = BUILD_DIR / "stamp"
    built = (launch.exists() and stamp_file.exists() and stamp_file.read_text() == stamp
             and all(Path(p).exists() for p in _classpath(launch)))
    if not built:
        if shutil.which("sbt") is None:
            raise BenchError("sbt not found on PATH")
        env = dict(os.environ, COURSIER_MODE="offline")
        opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
                f"-Dsbt.global.base={BUILD_DIR / 'sbt-global'}"]
        repos = Path("~/.sbt/repositories").expanduser()
        if repos.exists():
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
        log(f"building engine and agent with sbt (log: {BUILD_DIR / 'build.log'})")
        t0 = time.time()
        with open(BUILD_DIR / "build.log", "w") as out:
            rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                                cwd=JVM_DIR, env=env, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
        if rc != 0:
            raise BenchError(f"sbt build failed (exit {rc}); see {BUILD_DIR / 'build.log'}")
        shutil.copyfile(JVM_DIR / "target" / "launch.txt", launch)
        stamp_file.write_text(stamp)
        log(f"build took {time.time() - t0:.1f}s")
    lines = launch.read_text().splitlines()
    return lines[:lines.index("--")], _classpath(launch)


def _classpath(launch):
    lines = launch.read_text().splitlines()
    return lines[lines.index("--") + 1:]


class Agent:
    """The engine process: setup events first, then one reply per command."""

    def __init__(self, jvm_opts, classpath, fixture, cores, work_dir):
        self.work = Path(work_dir)
        shutil.rmtree(self.work, ignore_errors=True)
        (self.work / "tmp").mkdir(parents=True)
        self.out_dir = self.work / "results"
        opts = [o for o in jvm_opts if not o.startswith("-Xmx")] + [
            # a pinned heap, as servers run: without -Xms, G1's heap growth
            # made peak RSS vary by a third from run to run
            f"-Xmx{HEAP}", f"-Xms{HEAP}",
            f"-Djava.io.tmpdir={self.work / 'tmp'}",
            f"-Dspark.local.dir={self.work / 'tmp'}",
            f"-Dspark.sql.warehouse.dir={self.work / 'warehouse'}",
        ]
        self.stderr_path = self.work / "agent.log"
        self._stderr = open(self.stderr_path, "w")
        self.proc = subprocess.Popen(
            ["java", *opts, "-cp", os.pathsep.join(classpath), "perfbench.Agent",
             str(fixture), str(cores), str(self.out_dir)],
            cwd=self.work, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
            stderr=self._stderr, text=True, encoding="utf-8", bufsize=1)
        self.replies = queue.Queue()
        self.lock = threading.Lock()
        threading.Thread(target=self._pump, daemon=True).start()

    def _pump(self):
        for line in self.proc.stdout:
            if line.startswith("@@ "):
                self.replies.put(json.loads(line[3:]))
            else:
                sys.stderr.write(line)
        self.replies.put(None)

    def next_reply(self, timeout=REPLY_TIMEOUT_S):
        try:
            r = self.replies.get(timeout=timeout)
        except queue.Empty:
            raise BenchError(f"engine did not answer within {timeout}s; see {self.stderr_path}")
        if r is None:
            raise BenchError(f"engine exited (code {self.proc.poll()}); see {self.stderr_path}")
        return r

    def call(self, *parts, timeout=REPLY_TIMEOUT_S):
        with self.lock:
            self.proc.stdin.write("\t".join(str(p) for p in parts) + "\n")
            self.proc.stdin.flush()
            r = self.next_reply(timeout)
        if "error" in r:
            raise BenchError(f"engine command {parts[0]} failed: {r['error']}")
        return r

    def replay(self, sql):
        return self.call("replay", base64.b64encode(sql.encode()).decode())

    def peak_rss_mb(self):
        with open(f"/proc/{self.proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise BenchError("no VmHWM for the engine process")

    def stop(self):
        try:
            if self.proc.poll() is None:
                self.proc.stdin.write("quit\n")
                self.proc.stdin.flush()
                self.proc.wait(timeout=30)
        except (OSError, subprocess.TimeoutExpired, ValueError):
            pass
        finally:
            if self.proc.poll() is None:
                self.proc.kill()
                self.proc.wait()
            self._stderr.close()
