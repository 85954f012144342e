"""Process, HTTP and statistics helpers shared by the workloads."""

from __future__ import annotations

import glob
import hashlib
import http.client
import json
import os
import select
import signal
import socket
import subprocess
import sys
import time
import urllib.parse

PYTHON = sys.executable


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def host_heap() -> str:
    """Driver heap that fits the host: an eighth of available memory,
    between 1 GiB and 4 GiB (the engine's own default is 24 g)."""
    avail_kb = 4 << 20
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemAvailable:"):
                avail_kb = int(line.split()[1])
    mb = max(1024, min(4096, avail_kb // 1024 // 8))
    return f"{mb}m"


def code_identity(root: str) -> dict:
    """Git commit when the checkout is a repository, plus a digest of
    the engine sources either way."""
    try:
        commit = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"], capture_output=True,
            text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.TimeoutExpired):
        commit = "unknown"
    h = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(root, "ciws_server_spark", "**", "*.py"),
                                 recursive=True)):
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as fh:
            h.update(fh.read())
    return {"git_commit": commit, "engine_sha256": h.hexdigest()[:16]}


def engine_env(root: str, work: str, cores: int, heap: str,
               event_log: str | None = None) -> dict:
    """Environment for an engine process: host-sized session, every
    scratch path inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    submit = [f"--conf spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}"]
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        submit += ["--conf spark.eventLog.enabled=true",
                   f"--conf spark.eventLog.dir=file://{event_log}",
                   "--conf spark.eventLog.compress=false"]
    env = dict(os.environ)
    env.update(
        PYTHONPATH=root + (os.pathsep + env["PYTHONPATH"] if env.get("PYTHONPATH") else ""),
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_DRIVER_MEM=heap,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        PYSPARK_SUBMIT_ARGS=" ".join(submit + ["pyspark-shell"]),
        TMPDIR=tmp,
        PYTHONDONTWRITEBYTECODE="1",
    )
    return env


def free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


class Proc:
    """A child process in its own session, so a kill reaches the JVM
    and Python workers it starts."""

    def __init__(self, argv: list[str], cwd: str, env: dict, log: str,
                 stdin=None):
        self.log = open(log, "ab")
        self.p = subprocess.Popen(
            argv, cwd=cwd, env=env, stdin=stdin, stdout=subprocess.PIPE,
            stderr=self.log, start_new_session=True)

    @property
    def pid(self) -> int:
        return self.p.pid

    def readline(self, timeout: float) -> str:
        """One protocol line from the child's stdout, or an error once
        ``timeout`` passes or the child exits."""
        end = time.monotonic() + timeout
        fd = self.p.stdout.fileno()
        buf = b""
        while not buf.endswith(b"\n"):
            left = end - time.monotonic()
            if left <= 0 or not select.select([fd], [], [], left)[0]:
                raise RuntimeError(f"process {self.pid} timed out (see {self.log.name})")
            ch = os.read(fd, 1)
            if not ch:
                raise RuntimeError(f"process {self.pid} exited (see {self.log.name})")
            buf += ch
        return buf.decode()

    def kill(self, sig=signal.SIGKILL, wait_s: float = 60) -> None:
        """Signal the whole session and wait until every member is gone."""
        if self.log.closed:
            return
        try:
            os.killpg(self.p.pid, sig)
        except ProcessLookupError:
            pass
        self.wait_group(wait_s)

    def wait_group(self, wait_s: float) -> None:
        if self.log.closed:
            return
        end = time.monotonic() + wait_s
        while self.p.poll() is None or session_members(self.p.pid):
            if time.monotonic() > end:
                try:
                    os.killpg(self.p.pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            time.sleep(0.05)
        self.p.stdout.close()
        self.log.close()


def session_members(sid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[0] is the state; fields[3] the session id
        if int(fields[3]) == sid and fields[0] != "Z":
            out.append(int(d))
    return out


def children(pid: int) -> list[int]:
    out = []
    for task in glob.glob(f"/proc/{pid}/task/*/children"):
        try:
            with open(task) as fh:
                out += [int(x) for x in fh.read().split()]
        except OSError:
            pass
    return out


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for {pid}")


def jvm_peak_rss_mb(pid: int) -> float:
    """VmHWM of the JVM a PySpark driver process started."""
    for c in children(pid):
        try:
            with open(f"/proc/{c}/comm") as fh:
                if fh.read().strip() == "java":
                    return peak_rss_mb(c)
        except OSError:
            continue
    return 0.0


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat, in clock ticks."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    :func:`cpu_times` readings: a contention signal for the run."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / sum(delta) if sum(delta) else 0.0


def tree_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total


def visible_parquet(root: str) -> list[str]:
    """Data files a Spark reader of ``root`` sees: path components
    starting with ``_`` or ``.`` are invisible."""
    out = []
    real = os.path.realpath(root)
    for dirpath, dirnames, files in os.walk(real):
        dirnames[:] = sorted(d for d in dirnames if not d.startswith(("_", ".")))
        out += [os.path.join(dirpath, f) for f in sorted(files)
                if f.endswith(".parquet") and not f.startswith(("_", "."))]
    return out


# ------------------------------------------------------------------ HTTP

class Response:
    __slots__ = ("status", "body", "nbytes")

    def __init__(self, status: int, body: bytes):
        self.status = status
        self.body = body
        self.nbytes = len(body)

    def json(self):
        return json.loads(self.body)

    def chunks(self) -> list:
        return [json.loads(x) for x in self.body.splitlines() if x.strip()]


def request(port: int, method: str, path: str, params: dict,
            body: bytes | None = None, timeout: float = 120) -> Response:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=timeout)
    try:
        conn.request(method, path + "?" + urllib.parse.urlencode(params), body=body)
        r = conn.getresponse()
        return Response(r.status, r.read())
    finally:
        conn.close()


# ------------------------------------------------------------ statistics

def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (q in [0, 1])."""
    if not values:
        raise ValueError("no samples")
    v = sorted(values)
    pos = q * (len(v) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)
